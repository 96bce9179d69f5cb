"""Engine facade mirroring the reference's programmatic surface.

The reference exposes its analytics through a REST API
(api/services.py) and the Streamlit pages; every endpoint's *data*
computation maps to one function here, composed from the operator
library, so a reference user can translate calls one-to-one:

    reference api/services.py          here
    ---------------------------------  --------------------------------
    list_sar_files / file_info:185     file_info
    resolve_header / header_details    header_details
    filter_time_range:253 + get_table  get_table
    statistics (describe tables)       statistics
    build_overview_stats_csv           export_stats_csv
    multi-file compare (multi_files)   compare_files

All functions take the long frame produced by the SAR sources
(sources.sar_text's ``read_sar`` / ``read_files``,
sources.sadf_json's ``read_sadf_json``) or loaded from the store, and
return DataFrames — nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import metadata as MD
from .operators import timeseries as TS
from .sources.sar_text import section_wide
from .util import rnd


def alias_of(section: str) -> str:
    """Human-readable alias for a sar header — full bidirectional table
    in metadata.py (reference keeps it in sqlite:
    sqlite2_polars.py:168/:186, helpers_pl.py:62 translate_headers).
    Exact (whitespace-normalized) lookup first, then fuzzy word-overlap
    for cross-sysstat-version header drift; unknown headers map to
    themselves."""
    exact = MD.header_to_alias(section)
    if exact:
        return exact
    # ONE fuzzy-matching rule for the whole codebase: delegate to the
    # metadata helper instead of re-implementing the overlap loop
    best = MD.best_header_match(
        [h for h, _, _, _ in MD._headings_rows()], section
    )
    return (MD.header_to_alias(best) or section) if best else section


def header_of(alias: str, observed_headers: list[str]) -> str:
    """Reverse lookup: alias → the observed header it names (reference
    helpers_pl.py:81 translate_aliases + :100 aliases_2_header)."""
    return MD.translate_aliases([alias], observed_headers)[alias]


def list_files(df: DataFrame) -> DataFrame:
    """One row per ingested sar file with host and covered range."""
    return df.groupBy("file", "host").agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.countDistinct("section").alias("n_sections"),
        F.sum(F.col("restart").cast("long")).alias("n_restarts"),
    )


def file_info(df: DataFrame, file: str) -> DataFrame:
    """Per-section summary of one file — api/services.py:185."""
    return (
        df.where(F.col("file") == file)
        .groupBy("section")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.countDistinct("ts").alias("n_samples"),
            F.countDistinct("device").alias("n_devices"),
        )
    )


def header_details(df: DataFrame, file: str, section: str) -> DataFrame:
    """Metrics + devices of one section, each with its man-page
    description — api/services.py:219 (descriptions via
    helpers_pl.py:143 get_metric_desc_from_manpage; here a broadcast
    dim built from the same public sysstat man page)."""
    sect = df.where((F.col("file") == file) & (F.col("section") == section))
    stats = sect.groupBy("metric").agg(
        F.countDistinct("device").alias("n_devices"),
        F.count(F.lit(1)).alias("n_values"),
        rnd(F.avg("value"), 4).alias("mean"),
    )
    dim = MD.metric_descriptions_df(df.sparkSession)
    return stats.join(F.broadcast(dim), on="metric", how="left")


def _window(df: DataFrame, start, end) -> DataFrame:
    """Inclusive time slice supporting OPEN-ENDED bounds: start-only
    and end-only windows filter too (the old both-or-nothing check
    silently returned the full table for one-sided requests)."""
    if start is not None and end is not None:
        return TS.time_filter(df, "ts", start, end)
    if start is not None:
        return df.where(F.col("ts") >= F.lit(start))
    if end is not None:
        return df.where(F.col("ts") <= F.lit(end))
    return df


def device_plan(df: DataFrame, file: str, section: str,
                show_subheaders_for_all: bool = False) -> DataFrame:
    """Which device frames the reference's analyze flow renders for a
    section (dia_compute_pl.py:13 prepare_df_for_pandas): a section
    without sub-devices yields one frame; CPU and SOFT* sections
    default to just the 'all' pseudo-device, with ``device_num``
    reporting how many real devices it summarizes; every other device
    section enumerates its devices sorted (``device_num`` excludes an
    'all' pseudo-device when one exists, mirroring the reference's
    ``len(device_list) - 1``; with NO 'all' device the reference keeps
    its device_num default of 1 — dia_compute_pl.py:35/49 — and so
    does this plan). ``show_subheaders_for_all=True`` forces
    enumeration for CPU/SOFT too, like the reference flag.

    Returns (device, device_num) rows — the loop the UI pages run;
    nothing collects.
    """
    from pyspark.sql import Window

    sect = df.where((F.col("file") == file) & (F.col("section") == section))
    devices = sect.select("device").distinct()
    everything = Window.partitionBy()
    n_all = F.sum(
        F.when(F.col("device") == "all", 1).otherwise(0)
    ).over(everything)
    n_dev = F.count(F.lit(1)).over(everything)
    annotated = devices.select(
        "device",
        F.when(n_all > 0, n_dev - 1).otherwise(F.lit(1))
        .cast("long")
        .alias("device_num"),
    )
    alias = alias_of(section)
    collapse = (
        alias == "CPU" or alias.upper().startswith("SOFT")
    ) and not show_subheaders_for_all
    if collapse:
        return annotated.where(F.col("device") == "all")
    return annotated.orderBy(F.col("device").asc_nulls_first())


def get_table(df: DataFrame, file: str, section: str, start=None, end=None,
              device: str | None = None) -> DataFrame:
    """Time-filtered wide table for one section/device —
    api/services.py:253 filter_time_range + :310 get_table. Filters are
    applied on the long frame first so they push into the scan before
    the pivot shuffle."""
    sect = df.where((F.col("file") == file) & (F.col("section") == section))
    sect = _window(sect, start, end)
    if device is not None:
        sect = sect.where(F.col("device") == device)
    return section_wide(sect, section)


def _describe() -> list:
    """describe() of ``value``: count, mean, stddev, min, max — the
    statistics table's columns, shared by every call that builds one."""
    return [
        F.count("value").alias("cnt"),
        rnd(F.avg("value"), 4).alias("mean"),
        rnd(F.stddev_samp("value"), 4).alias("stddev"),
        F.round(F.min("value"), 4).alias("min"),
        F.round(F.max("value"), 4).alias("max"),
    ]


def statistics(df: DataFrame, file: str, section: str,
               device: str | None = None, start=None,
               end=None) -> DataFrame:
    """describe() per metric of one section — the Data tab's statistics
    table (dia_compute_pl.py:73). ``start``/``end`` scope the stats to
    the same window as the data table (the reference computes describe
    AFTER get_date_df, dia_compute_pl.py:63-74)."""
    sect = df.where((F.col("file") == file) & (F.col("section") == section))
    sect = _window(sect, start, end)
    if device is not None:
        sect = sect.where(F.col("device") == device)
    return sect.groupBy("metric").agg(*_describe())


def analyze_section(df: DataFrame, file: str, section: str,
                    start=None, end=None,
                    show_subheaders_for_all: bool = False,
                    ) -> list[tuple[str | None, DataFrame, DataFrame]]:
    """The reference's whole Data-tab computation for one section in a
    single call — prepare_df_for_pandas (dia_compute_pl.py:13) +
    final_results (:120) composed: follow the device plan, and for
    each planned device return its time-filtered wide table with
    duplicate timestamps dropped keep-first (final_results step 1) and
    restart marker rows appended as zero rows (step 2,
    dataframe_funcs_pl.py:50), plus its per-metric describe table
    (step 3). Returns ``[(device, table_df, stats_df), ...]`` — the
    exact frames the reference page renders, everything lazy.

    The device loop collects only the bounded device-plan rows (a
    handful per section — the same loop the reference runs); no fact
    data reaches the driver.
    """
    from .operators.timeseries import dedup_keep_first

    plan = device_plan(df, file, section, show_subheaders_for_all)
    # restart markers respect the same window as the data (the
    # reference inserts its full restart list even into a filtered
    # frame — a zero-marker far outside the viewed slice is a bug,
    # not parity worth keeping)
    rst = _window(restarts_of(df, file), start, end)
    out: list[tuple[str | None, DataFrame, DataFrame]] = []
    for row in plan.collect():
        device = row["device"]
        wide = get_table(df, file, section, start, end, device)
        # keep the time axis + metric value columns (the frame is
        # already scoped to one file/device, like the reference's)
        metric_cols = [
            c for c in wide.columns
            if c not in ("file", "host", "device", "ts")
        ]
        # The reference keeps the first duplicate in FRAME order
        # (df.index.duplicated(keep='first')) — a distributed frame
        # has no row order, so the deterministic analog orders ties by
        # the metric values themselves (same surviving row every run,
        # on every engine).
        deduped = dedup_keep_first(
            wide.select("ts", *metric_cols), ["ts"], metric_cols
        )
        table = TS.insert_restarts(deduped, rst, "ts", metric_cols)
        out.append(
            (device, table,
             statistics(df, file, section, device, start, end))
        )
    return out


def restarts_of(df: DataFrame, file: str) -> DataFrame:
    """Restart timestamps of one file (`LINUX RESTART` rows)."""
    return (
        df.where((F.col("file") == file) & F.col("restart"))
        .select("ts")
        .distinct()
    )


def compare_files(df: DataFrame, section: str, metric: str,
                  device: str | None = None, aligned: bool = False,
                  every: str = "hour") -> DataFrame:
    """Same metric across files (multi_files_pl.py single_multi):
    sections present in EVERY file (merge_headers semantics), then
    per-file statistics for the chosen metric.

    ``aligned=True`` returns the overlay table instead: each file's
    timestamps are rebased onto one shared day axis (time-of-day
    preserved — the reference's replace_ymt, dataframe_funcs_pl.py:81)
    and the metric is averaged per (file, rebased ``every`` bucket),
    so files recorded on different days compare point-for-point."""
    # lazy merge_headers: sections whose distinct-file count equals the
    # GLOBAL distinct-file count (computed as a 1-row frame cross-
    # joined in — no driver-side action, per the module contract)
    total = df.agg(F.countDistinct("file").alias("_nf_all"))
    common = (
        df.groupBy("section")
        .agg(F.countDistinct("file").alias("nf"))
        .crossJoin(F.broadcast(total))
        .where(F.col("nf") == F.col("_nf_all"))
        .select("section")
    )
    scoped = df.join(F.broadcast(common), "section").where(
        (F.col("section") == section) & (F.col("metric") == metric)
    )
    if device is not None:
        scoped = scoped.where(F.col("device") == device)
    if aligned:
        overlay = TS.overlay_align(scoped, "ts", ["file"])
        return overlay.groupBy(
            "file", F.date_trunc(every, "ts_aligned").alias("ts_aligned")
        ).agg(*_describe()[:2])  # cnt, mean
    return scoped.groupBy("file").agg(*_describe())


def export_stats_csv(df: DataFrame, file: str, out_path: str) -> None:
    """All-section statistics to CSV — dia_overview_pl.py:86
    build_overview_stats_csv, distributed writer instead of a driver
    string."""
    stats = (
        df.where(F.col("file") == file)
        .groupBy("section", "metric")
        .agg(*_describe())
    )
    stats.write.mode("overwrite").option("header", True).csv(out_path)
