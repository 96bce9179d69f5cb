"""Table catalog: load the driver-generated parquet tables and register
them as temp views so operators can be used from both the DataFrame API
and ``spark.sql``.

At 100 TB these would be external partitioned tables; nothing below
assumes single-file inputs — ``spark.read.parquet`` takes directories,
globs, or single files interchangeably.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _nanos_ts_cols(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) — Spark rejects those by
    default, so they need the legacy long read + an explicit convert."""
    try:
        if os.path.isdir(path):
            import pyarrow.dataset as ds

            schema = ds.dataset(path, format="parquet").schema
        else:
            schema = pq.read_schema(path)
    except Exception:
        return []
    def _nested_nanos(t) -> bool:
        if pa.types.is_timestamp(t) and t.unit == "ns":
            return True
        if pa.types.is_struct(t):
            return any(_nested_nanos(f.type) for f in t)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return _nested_nanos(t.value_type)
        if pa.types.is_map(t):
            return _nested_nanos(t.key_type) or _nested_nanos(t.item_type)
        return False

    out = []
    for f in schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            out.append(f.name)
        elif _nested_nanos(f.type):
            # a nested nanos leaf cannot be rewritten column-wise after
            # the legacy long read — fail loudly instead of letting
            # spark.read throw its opaque 'Illegal Parquet type' later
            raise NotImplementedError(
                f"{path}: column {f.name!r} nests a TIMESTAMP(NANOS) "
                "leaf inside a struct/array/map — flatten it or "
                "rewrite the file with microsecond timestamps"
            )
    return out


def _contains_ntz(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_ntz(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_ntz(dt.elementType)
    if isinstance(dt, T.MapType):
        return _contains_ntz(dt.keyType) or _contains_ntz(dt.valueType)
    return False


def _ntz_to_ltz(dt):
    """The same type tree with every TIMESTAMP_NTZ leaf replaced by the
    session-zoned TIMESTAMP type."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _ntz_to_ltz(f.dataType), f.nullable, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_ntz_to_ltz(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _ntz_to_ltz(dt.keyType), _ntz_to_ltz(dt.valueType), dt.valueContainsNull
        )
    return dt


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Parquet timestamps written without a timezone (pyarrow
    ``timestamp[us]``, isAdjustedToUTC=false) surface as TIMESTAMP_NTZ
    in Spark 4. With the session pinned to UTC the wall-clock values
    are identical, so cast them to the session-zoned TIMESTAMP type —
    every operator, CSV format option, and oracle compare in this
    engine is written against the zoned type.

    :func:`load_table` turns NTZ inference off at the scan, which makes
    pyarrow-written tz-less columns read as TIMESTAMP directly (a cast
    on top of the scan blocks parquet filter pushdown on the column).
    That conf does not reach a TIMESTAMP_NTZ column that Spark itself
    wrote, top-level or nested: Spark takes that type from its own
    schema in the parquet footer. Such columns, and frames read
    outside :func:`load_table`, are cast here.
    Recurses through struct/array/map types (one struct-level cast per
    affected top-level column — Spark casts nested types elementwise),
    and column references are backtick-escaped so dotted names resolve
    as single columns."""
    for f in df.schema.fields:
        if _contains_ntz(f.dataType):
            df = df.withColumn(
                f.name,
                F.col("`" + f.name.replace("`", "``") + "`").cast(
                    _ntz_to_ltz(f.dataType)
                ),
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; normalizes TIMESTAMP(NANOS) parquet columns to
    Spark timestamps (integer ``div`` keeps full precision — a double
    division would corrupt epoch-nanos > 2^53) and pins the session to
    UTC so wall-clock values are engine-independent."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    nanos = _nanos_ts_cols(path)
    # Both confs are scoped to this read: the plan captures them at
    # analysis time, so restoring them afterwards keeps later parquet
    # reads in the same session on the default behavior.
    # - nanosAsLong reads TIMESTAMP(NANOS) columns as longs (converted
    #   below); it changes nothing in a table without such columns.
    # - NTZ inference off surfaces tz-less parquet timestamps as
    #   session-zoned LTZ at the scan itself: casting NTZ→LTZ on top
    #   of the scan would stop parquet filter pushdown on those
    #   columns. It does not reach TIMESTAMP_NTZ columns that Spark
    #   wrote (their type comes from Spark's footer schema);
    #   _normalize_ntz casts those.
    confs = {"spark.sql.legacy.parquet.nanosAsLong": "true",
             "spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    prev = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        df = spark.read.parquet(path)
        if nanos:
            # pyarrow reports INT96 timestamps as ns too, but Spark
            # reads those as timestamps directly — only columns that
            # actually surface as longs went through the legacy-nanos
            # path.
            long_cols = {f.name for f in df.schema.fields
                         if f.dataType.typeName() == "long"}
            for c in nanos:
                if c in long_cols:
                    # FLOOR division, not `div` (truncate-toward-zero):
                    # pre-1970 nanos would otherwise shift up to 999 ns
                    # late; subtracting pmod first makes the quotient
                    # exact at full integer precision
                    df = df.withColumn(
                        c,
                        F.timestamp_micros(
                            F.expr(f"(`{c}` - pmod(`{c}`, 1000)) div 1000")
                        ),
                    )
        df = _normalize_ntz(df)
        # resolve the scan while the confs are set
        df.schema
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    return df
