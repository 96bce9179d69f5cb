"""Local replica of the driver's t2 correctness gate: run every
registry query in Spark AND its DuckDB oracle on the same parquet dir,
compare row count, column names, and (column-name-sorted,
row-sorted) values. Exits nonzero on any mismatch.

Usage: python tools/check_oracle.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sarfile_analyzer_ng_spark.catalog import TABLES, table_path
from sarfile_analyzer_ng_spark.queries import REGISTRY
from sarfile_analyzer_ng_spark.session import get_spark


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def dtype_class(s: pd.Series) -> str:
    """Coarse dtype class for cross-engine parity: the driver's value
    hash is dtype-sensitive, so an integer column that one engine
    materializes as float (e.g. DuckDB widening an uncast
    sum(BIGINT) across a UNION to HUGEINT -> pandas float64, the
    r8 q119 red row) must be a LOCAL failure even when the coerced
    values are equal."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def compare(key: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return issues
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    for c in sorted(spark_pdf.columns):
        scls, dcls = dtype_class(spark_pdf[c]), dtype_class(duck_pdf[c])
        if scls != dcls:
            issues.append(
                f"dtype-class {c}: spark={scls}({spark_pdf[c].dtype}) "
                f"duck={dcls}({duck_pdf[c].dtype})"
            )
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if len(s) == len(d):
        for c in s.columns:
            sc, dc = s[c], d[c]
            if pd.api.types.is_float_dtype(sc):
                neq = ~((sc.isna() & dc.isna()) | (sc == dc))
            else:
                neq = ~((sc.isna() & dc.isna()) | (sc.astype(object) == dc.astype(object)))
            if neq.any():
                i = int(neq.idxmax())
                issues.append(
                    f"col {c}: {int(neq.sum())} diffs, first@{i}: "
                    f"spark={sc.iloc[i]!r} duck={dc.iloc[i]!r}"
                )
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    keys = sys.argv[2:] or list(REGISTRY)
    spark = get_spark("check_oracle")
    con = duck_conn(sf_dir)
    failed = []
    for key in keys:
        fn, sql = REGISTRY[key]
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {key}: spark error: {e}")
            failed.append(key)
            continue
        if sql is None:
            print(f"ok   {key}: rows-only, {len(spark_pdf)} rows")
            continue
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {key}: duckdb error: {e}")
            failed.append(key)
            continue
        issues = compare(key, spark_pdf, duck_pdf)
        if issues:
            print(f"FAIL {key}: " + " | ".join(issues))
            failed.append(key)
        else:
            print(f"ok   {key}: {len(spark_pdf)} rows match")
    print(f"\n{len(keys) - len(failed)}/{len(keys)} pass")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
