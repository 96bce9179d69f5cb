"""Relational operators: joins, top-k, multi-source comparison.

Reference origins: alias/dimension lookups hit the sqlite headings
table (helpers_pl.py:62 ``translate_headers``, sqlite2_polars.py:237)
— a classic small-dimension join, so it is *always* broadcast here.
Multi-file comparison (multi_files_pl.py) intersects headers across
files (helpers_pl.py:42 ``merge_headers``), unions the per-file frames
with a file column, and computes combined statistics
(layout_helper_pl.py:236 ``display_averages``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dim_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Join a fact table to a small dimension — dimension broadcast,
    no shuffle of the fact side."""
    return fact.join(F.broadcast(dim), on=on, how="inner")


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Top-k without a global sort: ORDER BY + LIMIT compiles to
    TakeOrderedAndProject (per-partition heaps, merge at driver)."""
    return df.orderBy(*order_cols).limit(k)


def intersect_keys(dfs: list[DataFrame], col: str) -> DataFrame:
    """Keys present in every source — ``merge_headers`` distributed.
    Distinct per source first (tiny), then chained INTERSECT."""
    out = dfs[0].select(col).distinct()
    for other in dfs[1:]:
        out = out.intersect(other.select(col).distinct())
    return out


def union_with_source(named: list[tuple[str, DataFrame]]) -> DataFrame:
    """Union N sources tagging each row with its origin — the
    multi-file combined frame of display_averages."""
    parts = [df.withColumn("source_file", F.lit(name)) for name, df in named]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def global_range(df: DataFrame, ts_col: str, by: list[str]) -> DataFrame:
    """min/max timestamp (helpers_pl.py:397 ``get_start_end_date``) —
    with parquet column statistics this is metadata-only at scan."""
    return df.groupBy(*by).agg(
        F.min(ts_col).alias("start_ts"), F.max(ts_col).alias("end_ts"),
        F.count(F.lit(1)).alias("cnt"),
    )
