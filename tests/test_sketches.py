"""Sketch operators must land within their documented error bounds of
the exact answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.catalog import load_table
from sarfile_analyzer_ng_spark.operators import sketches as SK
from sarfile_analyzer_ng_spark.operators import stats as ST

from .conftest import SF_DIR


def test_approx_distinct_within_rsd(spark):
    ev = load_table(spark, SF_DIR, "events")
    exact = {r["event_type"]: r["c"] for r in
             ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("c")).collect()}
    approx = {r["event_type"]: r["approx_distinct_user_id"] for r in
              SK.approx_distinct(ev, "user_id", ["event_type"], rsd=0.05).collect()}
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(3, 0.15 * e), (k, e, approx[k])


def test_approx_percentiles_close_to_exact(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    exact = {r["l_returnflag"]: (r["p25"], r["p50"], r["p75"]) for r in
             ST.percentiles(li, "l_extendedprice", ["l_returnflag"]).collect()}
    approx = {r["l_returnflag"]: (r["p25"], r["p50"], r["p75"]) for r in
              SK.approx_percentiles(li, "l_extendedprice", ["l_returnflag"]).collect()}
    for k, (e25, e50, e75) in exact.items():
        a25, a50, a75 = approx[k]
        for e, a in ((e25, a25), (e50, a50), (e75, a75)):
            assert abs(a - e) / max(e, 1) < 0.02, (k, e, a)


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from sarfile_analyzer_ng_spark.operators import sketches as SK
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"member-key-{i}") for i in range(200)]
        + [(1000 + i, f"other-key-{i}") for i in range(200)],
        "id long, key string",
    )
    ref = df.where(F.col("id") < 200)
    bloom = SK.bloom_build(ref, "key", m_bits=1 << 14, k_hashes=4)
    probed = {r["id"]: r["in_bloom"]
              for r in SK.bloom_probe(df, "key", bloom,
                                      m_bits=1 << 14, k_hashes=4).collect()}
    # zero false negatives — every build key must probe true
    assert all(probed[i] for i in range(200))
    # false positives bounded: fill ~200*4/16384 = 4.9% -> fp ~ 6e-6;
    # allow a generous margin
    fps = sum(1 for i in range(1000, 1200) if probed[i])
    assert fps <= 2


def test_bloom_bitmap_is_fixed_width_words(spark):
    from sarfile_analyzer_ng_spark.operators import sketches as SK

    df = spark.createDataFrame([(1, "x")], "id long, key string")
    row = SK.bloom_build(df, "key", m_bits=1 << 10, k_hashes=3).collect()[0]
    assert len(row["bloom"]) == (1 << 10) // 64
    # exactly <= 3 bits set for one key
    assert sum(bin(w & ((1 << 64) - 1)).count("1") for w in row["bloom"]) <= 3


def test_approx_percentile_labels_no_truncation(spark):
    from sarfile_analyzer_ng_spark.operators import sketches as SK

    df = spark.createDataFrame([(1, float(i)) for i in range(100)],
                               "k long, v double")
    out = SK.approx_percentiles(df, "v", ["k"], probs=(0.29, 0.99, 0.999))
    assert [c for c in out.columns if c != "k"] == ["p29", "p99", "p99_9"]


def test_bloom_partial_final_word_no_false_negatives(spark):
    # m_bits not a multiple of 64: keys hashing into the partial final
    # word must still probe present (the documented zero-false-negative
    # contract)
    from sarfile_analyzer_ng_spark.operators import sketches as SK

    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "key string")
    bloom = SK.bloom_build(keys, "key", m_bits=1000, k_hashes=4)
    probed = SK.bloom_probe(keys, "key", bloom, m_bits=1000, k_hashes=4)
    rows = probed.collect()
    assert len(rows) == 200
    assert all(r["in_bloom"] is True for r in rows)


def test_cms_never_underestimates_and_bounded(spark):
    """CMS guarantees est >= true always; and est <= true + eps*N with
    eps = e/width for each row w.p. 1-(1/e)^depth — with depth=4 over
    a 31-token vocab the chance of ANY row breaching is ~0, so the
    bound is asserted hard."""
    import math

    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t")
    )
    truec = toks.groupBy("t").agg(F.count(F.lit(1)).alias("true_cnt"))
    W, D = 16, 4
    counters = SK.cms_build(toks, "t", width=W, depth=D)
    est = SK.cms_estimate(counters, truec.select("t"), "t", width=W, depth=D)
    rows = truec.join(est, "t").collect()
    n_total = toks.count()
    eps_bound = math.e / W * n_total
    assert rows
    for r in rows:
        assert r["est_cnt"] >= r["true_cnt"], r
        assert r["est_cnt"] <= r["true_cnt"] + eps_bound, (r, eps_bound)
    # the sketch must be at most depth*width cells, corpus-independent
    assert counters.count() <= W * D


def test_cms_merge_is_cellwise_sum(spark):
    """Two half-corpus sketches merged cell-wise equal the full-corpus
    sketch — the property that makes CMS shippable across shards."""
    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    )
    W, D = 16, 4
    full = SK.cms_build(toks, "t", width=W, depth=D)
    a = SK.cms_build(toks.where(F.col("doc_id") % 2 == 0), "t", width=W, depth=D)
    b = SK.cms_build(toks.where(F.col("doc_id") % 2 == 1), "t", width=W, depth=D)
    merged = (
        a.unionByName(b).groupBy("j", "b").agg(F.sum("cnt").alias("cnt"))
    )
    diff = (
        full.withColumnRenamed("cnt", "c1")
        .join(merged.withColumnRenamed("cnt", "c2"), ["j", "b"], "full_outer")
        .where(
            F.coalesce("c1", F.lit(0)) != F.coalesce("c2", F.lit(0))
        )
    )
    assert diff.count() == 0
