"""Scale up the driver testdata by integer replication for scaling
runs (``python tools/gen_sf.py [src_dir] [out_dir] [factor]``).

Each copy shifts every key family consistently (orderkey/custkey/
partkey/suppkey/event_id/user_id/doc_id/vec_id) so join fan-outs and
group cardinalities scale linearly, like real growth — NOT like naive
row duplication, which multiplies rows per key.

Two tables need more than a key shift, or the dedup/ANN benchmarks
would measure a synthetic pathology instead of scale:

- ``documents``: replicated text would make every doc a near-dup of
  its 9 twins (quadratic pair blow-up). Copies > 0 permute each doc's
  words by a per-(copy, doc, position) hash, which preserves length
  and vocabulary (token stats, language id, quality scores stay
  realistic) while making shingle sets disjoint across copies AND
  across docs within a copy. Two traps measured before landing here:
  a per-copy-only hash SORT canonicalizes word order across the whole
  copy (docs sharing vocabulary align their common words into
  identical runs), and ANY sort keyed on the word alone groups
  repeated words into ``the the the`` runs shared by every doc that
  repeats the word (shingle max_df went 25 -> 13,410; sum(df^2) = 6e9
  candidate pairs; 80 GB shuffle spill in the sf1 jaccard join).
  Hashing the array position too scatters repeats.
- ``embeddings``: cosine is scale-invariant, so perturbing or scaling
  replicated vectors keeps them near-dups. Copies > 0 get fresh
  hash-derived vectors in [-1, 1) instead.

nation/region are dimensions and stay fixed.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sarfile_analyzer_ng_spark.session import get_spark  # noqa: E402


def _shift(df: DataFrame, cols: dict[str, int], copy: int) -> DataFrame:
    for c, base in cols.items():
        df = df.withColumn(c, F.col(c) + F.lit(copy * base))
    return df


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark("gen_sf")
    spark.sparkContext.setLogLevel("ERROR")
    from sarfile_analyzer_ng_spark.catalog import TABLES, load_table

    # key bases: round max-id up so shifted ranges never collide
    def base_of(df, col):
        return int(df.agg(F.max(col)).first()[0]) + 1

    frames = {t: load_table(spark, src, t) for t in TABLES}
    bases = {
        "orderkey": base_of(frames["orders"], "o_orderkey"),
        "custkey": base_of(frames["customer"], "c_custkey"),
        "partkey": base_of(frames["part"], "p_partkey"),
        "suppkey": base_of(frames["supplier"], "s_suppkey"),
        "event_id": base_of(frames["events"], "event_id"),
        "user_id": base_of(frames["events"], "user_id"),
        "doc_id": base_of(frames["documents"], "doc_id"),
        "vec_id": base_of(frames["embeddings"], "vec_id"),
    }
    shifts = {
        "orders": {"o_orderkey": bases["orderkey"], "o_custkey": bases["custkey"]},
        "lineitem": {
            "l_orderkey": bases["orderkey"],
            "l_partkey": bases["partkey"],
            "l_suppkey": bases["suppkey"],
        },
        "customer": {"c_custkey": bases["custkey"]},
        "part": {"p_partkey": bases["partkey"]},
        "supplier": {"s_suppkey": bases["suppkey"]},
        "events": {"event_id": bases["event_id"], "user_id": bases["user_id"]},
        "documents": {"doc_id": bases["doc_id"]},
        "embeddings": {"vec_id": bases["vec_id"]},
    }

    dim = 64
    for t in TABLES:
        df = frames[t]
        if t in ("nation", "region"):
            out_df = df
        else:
            copies = []
            for i in range(factor):
                c = _shift(df, shifts[t], i)
                if i > 0 and t == "documents":
                    # per-(copy, doc, position) permutation: same
                    # tokens, disjoint shingles across copies and docs
                    c = c.withColumn(
                        "text",
                        F.array_join(
                            F.expr(
                                "transform(array_sort(transform(split(text, ' '), "
                                f"(w, p) -> struct(xxhash64(w, p, doc_id, {i}) AS k, w AS w)"
                                ")), s -> s.w)"
                            ),
                            " ",
                        ),
                    )
                if i > 0 and t == "embeddings":
                    c = c.withColumn(
                        "embedding",
                        F.expr(
                            f"transform(sequence(0, {dim - 1}), j -> "
                            f"CAST(pmod(xxhash64(vec_id, j, {i}), 2001) / 1000.5 - 1.0 AS FLOAT))"
                        ),
                    )
                copies.append(c)
            out_df = copies[0]
            for c in copies[1:]:
                out_df = out_df.unionByName(c)
        n = 8 if t not in ("nation", "region") else 1
        out_df.repartition(n).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"{t}: {spark.read.parquet(f'{out}/{t}.parquet').count()} rows")


if __name__ == "__main__":
    main()
