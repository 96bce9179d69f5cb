"""Scale machinery: salted aggregation must be result-identical to the
direct plan; IVF must approach brute-force recall as nprobe grows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.catalog import load_table
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.operators import skew as SK

from .conftest import SF_DIR


def test_salted_agg_matches_direct(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    direct = {
        r["l_returnflag"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in li.groupBy("l_returnflag").agg(
            F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"),
            F.min("l_quantity").alias("mn"), F.max("l_quantity").alias("mx"),
        ).collect()
    }
    salted = {
        r["l_returnflag"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in SK.salted_agg(
            li, ["l_returnflag"],
            [("sum", "l_quantity", "s"), ("count", "l_quantity", "c"),
             ("min", "l_quantity", "mn"), ("max", "l_quantity", "mx")],
        ).collect()
    }
    assert salted == direct


def test_aqe_splits_planted_skew_join(spark):
    # sf0.01 so the hot partition's compressed shuffle bytes clear the
    # (already tiny) skew threshold. The repartition(16) matters: AQE
    # splits a skewed reduce partition BETWEEN map outputs, so a
    # single-mapper input (one small parquet file) can never be split —
    # at real scale scans produce thousands of mappers and this is moot.
    li = (
        load_table(spark, "/root/testdata/sf0.01", "lineitem")
        .select("l_orderkey", "l_quantity", "l_linenumber")
        .withColumn(
            "l_orderkey",
            F.when(F.col("l_linenumber") % 2 == 0, F.lit(1))
            .otherwise(F.col("l_orderkey")),
        )
        .repartition(16)
    )
    o = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    confs = {
        # force the sort-merge path (at real scale orders doesn't broadcast)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # thresholds small enough that the planted key trips the splitter
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = li.join(o, on="l_orderkey")
        got = len(joined.collect())  # collect() finalizes THIS plan's AQE
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the planted skew"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    expected = li.join(o, on="l_orderkey").count()
    assert got == expected


def test_cosine_dup_pairs_blocked_matches_single_block(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    one = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           S.cosine_dup_pairs(emb, "vec_id", "embedding", 0.3,
                              rows_per_block=10**9).collect()}
    # tiny blocks force a real multi-block pair grid (B ≈ n/7)
    many = {(r["id_a"], r["id_b"]): r["cosine"] for r in
            S.cosine_dup_pairs(emb, "vec_id", "embedding", 0.3,
                               rows_per_block=7).collect()}
    assert one and many == one


def test_cosine_dup_pairs_never_collects_to_driver(spark, monkeypatch):
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("driver-side toPandas/collect in cosine_dup_pairs")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = S.cosine_dup_pairs(emb, "vec_id", "embedding", 0.3)
    assert out.count() > 0  # count() is a scalar action, not a collect


def test_ivf_recall_improves_with_nprobe(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 5)
    centroids, assigned = S.ivf_train(emb, "vec_id", "embedding", k_lists=8,
                                      iters=2, return_assignment=True)
    assert centroids.shape == (8, 64)
    brute = {(r["query_id"], r["neighbor_id"]) for r in
             S.ann_topk_bruteforce(emb, queries, "vec_id", "embedding", 3).collect()}
    got_all = {(r["query_id"], r["neighbor_id"]) for r in
               S.ann_topk_ivf(emb, queries, "vec_id", "embedding", 3,
                              centroids, nprobe=8, assigned=assigned).collect()}
    # probing every list == exact search
    assert got_all == brute
    # the un-shared path (no assigned frame) must agree with the shared one
    got_1 = {(r["query_id"], r["neighbor_id"]) for r in
             S.ann_topk_ivf(emb, queries, "vec_id", "embedding", 3,
                            centroids, nprobe=2).collect()}
    assert len(got_1 & brute) >= len(brute) // 3
    assigned.unpersist()


def test_salted_agg_requires_salt_source(spark):
    import pytest as _pytest

    from sarfile_analyzer_ng_spark.operators.skew import salted_agg

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with _pytest.raises(ValueError, match="salt"):
        salted_agg(df, ["k", "v"], [("count", "v", "c")])


def test_ivfpq_recall_floor_on_planted_neighbors(spark):
    """r8 operating-point pin (docs/SCALING.md): on a corpus with
    genuine near-neighbors (planted copies at cosine ~0.9 — the
    dedup/near-dup retrieval case), IVFPQ at nprobe=2 with a rerank
    shortlist must keep recall@10 >= 0.9. Seeded generator, so this
    is a deterministic floor, not a flake."""
    from tools.ivfpq_recall import recall_curve

    rows = recall_curve(spark, "planted:2000", k_lists=16, m=8,
                        rerank=50, codewords=16, n_queries=5)
    by_nprobe = {np_: rec for np_, rec, _wall in rows}
    assert by_nprobe[2] >= 0.9, by_nprobe
    # exhaustive probing with rerank must do at least as well as the
    # ADC ceiling implies on strong-similarity data
    assert by_nprobe[16] >= 0.9, by_nprobe
