"""Dataset I/O: schema-pinned CSV and JSONL reads, sharded JSONL export.

The reference serves uploaded files and parquet caches
(parse_into_polars.py:14, api/services.py upload paths); at engine
scale the same needs become schema-pinned ingest (no inference job
over 100 TB) and a sharded export whose placement a manifest can
replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True, sep: str = ",") -> DataFrame:
    """CSV with an explicit schema: inference would be a second full
    scan of the input — never acceptable at scale — and pins types so
    downstream oracles/joins don't drift."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", sep)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def write_jsonl_shards(df: DataFrame, path: str, num_shards: int,
                       shard_key: str, mode: str = "overwrite") -> None:
    """Sharded JSONL corpus export — the interchange format training
    pipelines consume (one JSON object per line, a bounded number of
    similar-size shard files).

    Placement is the engine-portable :func:`~..util.shard_hash` of
    ``shard_key`` — the SAME scheme the export manifest
    (queries.q74_shard_manifest) and :func:`~..functions.text.
    pack_sequences` compute — written as a ``shard=K`` directory per
    shard, so a manifest planned from that hash describes the real
    export byte-for-byte (a plain ``repartition(n, col)`` would place
    rows by Spark-internal murmur3, which no manifest reader can
    replay). The pre-write ``repartition`` on the shard column
    colocates each shard value in one task → exactly one file per
    shard directory, and a document always lands in the same shard
    across runs, so re-exports are diffable. Compression stays off by
    default — downstream tokenizer jobs split plain files at arbitrary
    offsets; gzip shards would serialize each reader.
    """
    from ..util import shard_hash

    out = df.withColumn("shard", shard_hash(F.col(shard_key), num_shards))
    (
        out.repartition(num_shards, F.col("shard"))
        .write.mode(mode)
        .partitionBy("shard")
        .json(path)
    )


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType) -> DataFrame:
    """Schema-pinned JSONL read (inference would re-scan the corpus)."""
    return spark.read.schema(schema).json(path)
