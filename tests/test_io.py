"""CSV ingest parity, reloads of Spark-written timestamps and the sharded
JSONL export."""

from __future__ import annotations


from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.catalog import load_table
from sarfile_analyzer_ng_spark.operators import io as IO

from .conftest import SF_DIR
import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)


def test_csv_roundtrip_matches_parquet(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    csv_dir = str(tmp_path / "events_csv")
    ev.write.option("header", True).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).mode("overwrite").csv(csv_dir)
    back = IO.read_csv(spark, csv_dir, ev.schema)
    assert back.count() == ev.count()
    a = ev.agg(F.sum("value"), F.min("ts"), F.max("ts")).collect()[0]
    b = back.agg(F.sum("value"), F.min("ts"), F.max("ts")).collect()[0]
    assert a == b


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


def test_jsonl_shard_export_roundtrip(spark, tmp_path):
    import glob
    import json

    from pyspark.sql import types as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "corpus")
    IO.write_jsonl_shards(docs, out, num_shards=4, shard_key="doc_id")
    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(dirs) == 4                        # exact shard count
    files = sorted(glob.glob(f"{out}/shard=*/part-*"))
    assert len(files) == 4                       # one file per shard dir
    with open(files[0]) as f:
        json.loads(f.readline())                 # valid JSONL payload

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = IO.read_jsonl(spark, out, schema)
    assert back.count() == docs.count()
    # deterministic placement: re-export shards identically
    out2 = str(tmp_path / "corpus2")
    IO.write_jsonl_shards(docs, out2, num_shards=4, shard_key="doc_id")
    sizes = lambda d: sorted(
        spark.read.text(p).count() for p in sorted(glob.glob(f"{d}/shard=*/part-*"))
    )
    assert sizes(out) == sizes(out2)


def test_manifest_indexes_export(spark, tmp_path):
    """The q74 manifest contract: directory shard=K of the JSONL
    export holds exactly the rows the shard_hash manifest ascribes to
    shard K (count and id range) — i.e. a loader planned from the
    manifest reads the true shard boundaries."""
    import glob
    import json

    from sarfile_analyzer_ng_spark.util import shard_hash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "export")
    IO.write_jsonl_shards(docs, out, num_shards=4, shard_key="doc_id")
    manifest = (
        docs.groupBy(shard_hash(F.col("doc_id"), 4).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    )
    assert len(manifest) == 4
    for row in manifest:
        ids = []
        for fp in glob.glob(f"{out}/shard={row['shard']}/part-*"):
            with open(fp) as f:
                ids.extend(json.loads(line)["doc_id"] for line in f)
        assert len(ids) == row["n_docs"]
        assert min(ids) == row["lo"] and max(ids) == row["hi"]
