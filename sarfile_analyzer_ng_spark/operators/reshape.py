"""Reshape operators: the reference's wide/long conversions.

- ``create_metrics_df`` (pl_helpers2.py:178) turns one sar section's
  space-joined value string into one column per metric → here:
  pivot long→wide with an explicit pivot-value list.
- ``.melt`` (multi_files_pl.py:173) turns wide metric columns into
  (date, metrics, y) for charting → here: ``stack`` unpivot.
- ``get_headers`` (pl_helpers2.py:212) lists the sections present →
  here: grouped inventory with counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import rnd
from .stats import unpivot  # re-export: melt == unpivot

melt = unpivot


def pivot_wide(df: DataFrame, key_cols: list[str], pivot_col: str,
               value_col: str, pivot_values: list[str]) -> DataFrame:
    """Long→wide: the average of ``value_col`` per key and pivot
    value, rounded at 4 digits. ``pivot_values`` is explicit, which
    removes the extra distinct-values job Spark otherwise runs — at
    100 TB that job is a full scan. Implemented as conditional
    aggregation so the plan is a single groupBy (identical semantics
    to ``.pivot`` with values)."""
    aggs = [
        rnd(
            F.avg(F.when(F.col(pivot_col) == v, F.col(value_col))), 4
        ).alias(v)
        for v in pivot_values
    ]
    return df.groupBy(*key_cols).agg(*aggs)


def inventory(df: DataFrame, col: str) -> DataFrame:
    """Distinct values of ``col`` with row counts — ``get_headers``
    plus the section sizes the UI shows."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
