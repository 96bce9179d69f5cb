"""Reloads of Spark-written timestamps through catalog.load_table."""

from __future__ import annotations

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.catalog import load_table

from .conftest import SF_DIR
import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)


def test_load_table_roundtrips_spark_written_timestamps(spark, tmp_path):
    """gen_sf.py-style rewrites store events.ts as a plain Spark
    timestamp; load_table must not re-apply the nanos-long conversion
    (pyarrow reports Spark's INT96/micros as ns too)."""
    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "copy")
    for t in ("events", "nation"):
        load_table(spark, SF_DIR, t).write.parquet(f"{out}/{t}.parquet")
    back = load_table(spark, out, "events")
    assert dict(back.dtypes)["ts"] == "timestamp"
    a = ev.agg(F.min("ts"), F.max("ts"), F.count("*")).collect()[0]
    b = back.agg(F.min("ts"), F.max("ts"), F.count("*")).collect()[0]
    assert a == b


def test_normalize_ntz_nested_and_dotted(spark, tmp_path):
    """_normalize_ntz recurses into struct/array/map fields and
    resolves dotted column names as single (escaped) columns — the
    two latent gaps of the old top-level-only implementation. Fixture
    is real parquet written by pyarrow with tz-less us timestamps."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sarfile_analyzer_ng_spark.catalog import _normalize_ntz

    t = datetime.datetime(2024, 1, 5, 12, 30, 0)
    ts = pa.timestamp("us")  # no tz → Spark reads TIMESTAMP_NTZ
    table = pa.table(
        {
            "a.b": pa.array([t], type=ts),
            "s": pa.array([{"t": t, "n": 7}],
                          type=pa.struct([("t", ts), ("n", pa.int64())])),
            "arr": pa.array([[t, t]], type=pa.list_(ts)),
            "plain": pa.array([3], type=pa.int64()),
        }
    )
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(table, path)

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = spark.read.parquet(path)
        df.schema
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    assert "timestamp_ntz" in df.schema.simpleString()  # fixture is real

    out = _normalize_ntz(df)
    assert "timestamp_ntz" not in out.schema.simpleString()
    row = out.collect()[0]
    assert row["a.b"] == t
    assert row["s"]["t"] == t and row["s"]["n"] == 7
    assert row["arr"] == [t, t]
    assert row["plain"] == 3




def test_load_table_casts_spark_written_ntz(spark, tmp_path):
    """A TIMESTAMP_NTZ column that Spark wrote, top-level or inside a
    struct, still reads as timestamp_ntz with NTZ inference off: Spark
    takes the type from its own schema in the parquet footer. So
    load_table reaches _normalize_ntz for such a table, and returns the
    zoned TIMESTAMP type with the same wall-clock values."""
    import datetime

    from pyspark.sql import types as T

    spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-05 12:30:00' AS t, "
        "named_struct('t', TIMESTAMP_NTZ '1969-12-31 23:59:59.5', "
        "'n', 7L) AS s"
    ).write.parquet(str(tmp_path / "ntz.parquet"))

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        raw = spark.read.parquet(str(tmp_path / "ntz.parquet"))
        raw.schema
    finally:
        spark.conf.set(key, prev) if prev is not None else spark.conf.unset(key)
    assert isinstance(raw.schema["t"].dataType, T.TimestampNTZType)

    df = load_table(spark, str(tmp_path), "ntz")
    assert isinstance(df.schema["t"].dataType, T.TimestampType)
    assert isinstance(df.schema["s"].dataType["t"].dataType, T.TimestampType)
    row = df.collect()[0]
    assert row["t"] == datetime.datetime(2024, 1, 5, 12, 30, 0)
    assert row["s"]["t"] == datetime.datetime(1969, 12, 31, 23, 59, 59, 500000)
    assert row["s"]["n"] == 7
