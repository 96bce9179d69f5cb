"""Skew-handling operators for hot keys.

sar data is naturally skewed — the `all` pseudo-CPU and a handful of
busy devices dominate row counts, and at 100 TB a single hot key pins
one reducer. The standard remedy for aggregations is **salted
aggregation**: split each key into N salt shards, partially aggregate
per shard (map-side + small shuffle), then merge shards. Results are
bit-identical to the direct groupBy for decomposable aggregates; only
the shuffle distribution changes.

AQE's skew-join splitting (enabled in session.py) covers sort-merge
joins at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (kind, source column, output alias); avg decomposes into sum+count
SaltedAgg = tuple[str, str, str]

_PARTIAL = {
    "sum": F.sum,
    # count(col) — NULL-skipping, matching SQL count(value) semantics
    "count": lambda c: F.count(F.col(c)),
    "min": F.min,
    "max": F.max,
}
_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_agg(df: DataFrame, keys: list[str],
               aggs: list[SaltedAgg]) -> DataFrame:
    """Two-stage skew-proof aggregation.

    The hash of every non-key column spreads a hot key's rows over 16
    shards. Stage 1 groups by (keys, salt) — each shard small; stage 2
    merges shards per key.
    """
    salt_cols = [c for c in df.columns if c not in keys]
    if not salt_cols:
        raise ValueError(
            "salted_agg: no non-key columns to derive a salt from"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(16))
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[_PARTIAL[kind](col).alias(alias) for kind, col, alias in aggs]
    )
    return partial.groupBy(*keys).agg(
        *[_MERGE[kind](alias).alias(alias) for kind, _, alias in aggs]
    )
