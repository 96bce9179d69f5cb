"""Metric/header metadata dimensions.

The reference keeps two lookup tables in sqlite and consults them
row-at-a-time from the UI (sarfile_analyzer_ng code/sqlite2_polars.py:
``headingstable`` at :168/:186, ``metric`` descriptions at :129;
code/helpers_pl.py:62-116 ``translate_headers`` / ``translate_aliases``
/ ``aliases_2_header``; :143 ``get_metric_desc_from_manpage``). Here
both are checked-in TSVs (built from the public sysstat ``sar.1`` man
page — see tools/build_metric_dims.py) exposed two ways:

- as broadcast-joinable DataFrames (``headings_df`` /
  ``metric_descriptions_df``) for distributed enrichment — dims this
  size are the canonical broadcast-hash-join case, never a shuffle;
- as plain dicts for the driver-side API facade, where inputs are a
  handful of header strings.
"""

from __future__ import annotations

import csv
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_DATA = Path(__file__).resolve().parent / "data"


@lru_cache(maxsize=1)
def _headings_rows() -> tuple[tuple[str, str, str, str], ...]:
    with (_DATA / "headings.tsv").open() as f:
        reader = csv.reader(f, delimiter="\t")
        next(reader)  # header row
        return tuple((r[0], r[1], r[2], r[3]) for r in reader)


@lru_cache(maxsize=1)
def _metric_rows() -> tuple[tuple[str, str], ...]:
    with (_DATA / "metric_descriptions.tsv").open() as f:
        reader = csv.reader(f, delimiter="\t")
        next(reader)
        return tuple((r[0], r[1]) for r in reader)


def headings_df(spark: SparkSession) -> DataFrame:
    """The header↔alias dimension as a DataFrame (47 rows — always
    broadcast it on the probe side of a join)."""
    return spark.createDataFrame(
        list(_headings_rows()), "header string, alias string, description string, keyword string"
    )


def metric_descriptions_df(spark: SparkSession) -> DataFrame:
    """metric → man-page description (285 rows)."""
    return spark.createDataFrame(
        list(_metric_rows()), "metric string, description string"
    )


def metric_description(metric: str) -> str | None:
    """Driver-side single-metric lookup (API facade path)."""
    return dict(_metric_rows()).get(metric)


def _norm(header: str) -> str:
    return " ".join(header.split())


def header_to_alias(header: str) -> str | None:
    """Exact (whitespace-normalized) header → alias."""
    target = _norm(header)
    for h, alias, _, _ in _headings_rows():
        if _norm(h) == target:
            return alias
    return None


def alias_to_header(alias: str) -> str | None:
    """alias → canonical header (first variant in table order)."""
    for h, a, _, _ in _headings_rows():
        if a == alias:
            return _norm(h)
    return None


def best_header_match(candidates: list[str], header: str) -> str | None:
    """Fuzzy fallback: the observed header whose metric-word overlap
    with ``header`` is largest (sysstat versions insert/rename columns,
    so exact match fails across versions)."""
    want = set(header.split())
    best, best_n = None, 0
    for cand in candidates:
        n = len(want & set(cand.split()))
        if n > best_n:
            best, best_n = cand, n
    return best


def translate_headers(headers: list[str]) -> dict[str, str]:
    """header → alias for a list of observed sar headers; unknown
    headers map to themselves (reference helpers_pl.py:62)."""
    return {h: header_to_alias(h) or h for h in headers}


def translate_aliases(aliases: list[str], sar_headers: list[str]) -> dict[str, str]:
    """alias → the observed header it names (reference
    helpers_pl.py:81): exact table lookup first, then fuzzy word
    overlap against the observed headers for cross-version drift."""
    out: dict[str, str] = {}
    observed = {_norm(h) for h in sar_headers}  # hoisted: O(H), not O(A*H)
    for alias in aliases:
        header = alias_to_header(alias) or alias
        if header not in observed:
            header = best_header_match(sar_headers, header) or header
        out[alias] = _norm(header)
    return out
