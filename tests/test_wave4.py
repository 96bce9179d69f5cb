"""Round-9 wave-4 operators: Moore-Lewis contrastive selection (q170),
Poisson-bootstrap CIs (q171), greedy k-center coreset (q172),
embedding outliers (q173), classifier threshold sweep (q174), and the
cross-split leakage audit (q175)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import classify as C
from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.functions import text as TX

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ #
# Moore-Lewis (q170)
# ------------------------------------------------------------------ #

def _ml_corpus(spark):
    # in-domain docs speak "alpha beta gamma", general docs speak
    # "delta epsilon zeta"; one code-switching doc sits in between
    rows = (
        [(i, "alpha beta gamma alpha beta", 1) for i in range(5)]
        + [(10 + i, "delta epsilon zeta delta epsilon", 0)
           for i in range(5)]
        + [(99, "alpha delta alpha delta", 0)]
    )
    return spark.createDataFrame(rows, "doc_id long, text string, ind int")


def test_moore_lewis_separates_domains(spark):
    df = _ml_corpus(spark)
    out = TX.moore_lewis(df, "text", "doc_id", "ind", vocab_size=4)
    rows = {r.doc_id: r for r in out.collect()}
    D.release(out)
    assert len(rows) == 11
    for i in range(5):
        assert rows[i].ce_diff > 0 and rows[i].selected == 1
    for i in range(10, 15):
        assert rows[i].ce_diff < 0 and rows[i].selected == 0
    # the mixed doc scores between the two blocks
    assert rows[10].ce_diff < rows[99].ce_diff < rows[0].ce_diff
    assert rows[0].n_tokens == 5


# ------------------------------------------------------------------ #
# k-center coreset (q172)
# ------------------------------------------------------------------ #

def test_kcenter_covers_planted_clusters(spark):
    # three tight clusters far apart; k=3 must pick one point per
    # cluster (farthest-point traversal cannot stay inside one)
    import numpy as np

    rng = np.random.RandomState(7)
    centers = {0: (0.0, 0.0), 1: (10.0, 0.0), 2: (0.0, 10.0)}
    rows = []
    for cid, (cx, cy) in centers.items():
        for i in range(10):
            rows.append(
                (cid * 100 + i,
                 [float(cx + rng.uniform(-0.1, 0.1)),
                  float(cy + rng.uniform(-0.1, 0.1))])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.kcenter_select(df, "vec_id", "embedding", k=3).collect()
    assert [r.sel_round for r in out] == [1, 2, 3]
    picked_clusters = {r.vec_id // 100 for r in out}
    assert picked_clusters == {0, 1, 2}
    # d2 trace is monotone non-increasing after the seed
    d2s = [r.d2 for r in out[1:]]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))
    # seed is the max-norm point and carries a NULL distance
    assert out[0].d2 is None
    assert out[0].vec_id // 100 in {1, 2}  # norm-10 clusters


def test_kcenter_null_vectors_skipped(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = S.kcenter_select(df, "vec_id", "embedding", k=2).collect()
    assert {r.vec_id for r in out} == {3, 1}


# ------------------------------------------------------------------ #
# embedding outliers (q173)
# ------------------------------------------------------------------ #

def test_embedding_outliers_flags_planted(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)])
            for i in range(50)]
    rows.append((999, [float(12.0)] * 8))  # the wrong-encoder row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.embedding_outliers(df, "vec_id", "embedding", top_k=5).collect()
    assert out[0].vec_id == 999
    assert out[0].mah > out[1].mah


def test_embedding_outliers_constant_dim_is_zero(spark):
    # a constant coordinate has sigma=0 and must contribute 0, not NaN
    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    out = S.embedding_outliers(df, "vec_id", "embedding", top_k=10).collect()
    assert all(r.mah is not None and r.mah == r.mah for r in out)
    # dim 0 contributes 0 => score is |z| of dim 1 alone / sqrt(2)
    assert out[0].vec_id in (0, 9)  # the ends of the ramp


# ------------------------------------------------------------------ #
# threshold sweep (q174)
# ------------------------------------------------------------------ #

def test_threshold_sweep_counts_and_f1(spark):
    scored = spark.createDataFrame(
        [(1, 0.9), (1, 0.6), (1, 0.2), (0, 0.8), (0, 0.3), (0, 0.1)],
        "label int, p_good double",
    )
    out = {r.tau: r for r in C.threshold_sweep(
        scored, "p_good", "label", taus=(0.25, 0.5, 0.75)).collect()}
    r = out[0.5]
    assert (r.tp, r.fp, r.fn, r.tn) == (2, 1, 1, 2)
    assert r.precision == pytest.approx(2 / 3, abs=1e-6)
    assert r.recall == pytest.approx(2 / 3, abs=1e-6)
    assert r.f1 == pytest.approx(2 / 3, abs=1e-4)
    # recall is monotone non-increasing in tau; counts conserve
    taus = sorted(out)
    recalls = [out[t].recall for t in taus]
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))
    assert all(out[t].tp + out[t].fp + out[t].fn + out[t].tn == 6
               for t in taus)


# ------------------------------------------------------------------ #
# split leakage (q175)
# ------------------------------------------------------------------ #

def test_split_leakage_finds_planted_cross_split_dup(spark):
    # find two ids that hash into different splits, plant identical
    # text on them, and expect exactly that pair to be counted
    from sarfile_analyzer_ng_spark.util import shard_hash

    probe = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    ).withColumn("bkt", shard_hash(F.col("doc_id"), 100))
    bkt = {r.doc_id: r.bkt for r in probe.collect()}
    train_ids = [i for i, b in bkt.items() if b < 80]
    test_ids = [i for i, b in bkt.items() if b >= 90]
    assert train_ids and test_ids
    rows = [(train_ids[0], "LEAKED CONTENT"), (test_ids[0], "LEAKED CONTENT")]
    # filler docs with unique text on both sides
    rows += [(i, f"unique {i}") for i in train_ids[1:4] + test_ids[1:4]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.pair: r for r in D.split_leakage(
        df, "text", "doc_id",
        {"train": 80, "val": 10, "test": 10}).collect()}
    assert set(out) == {"train-val", "train-test", "val-test"}
    assert out["train-test"].n_groups == 1
    assert out["train-test"].n_contam == 1
    assert out["train-val"].n_groups == 0
    assert out["val-test"].n_groups == 0


# ------------------------------------------------------------------ #
# bootstrap CI (q171) — gate-scale sanity
# ------------------------------------------------------------------ #

def test_bootstrap_band_brackets_point_estimate(spark):
    from sarfile_analyzer_ng_spark.queries import q171_bootstrap_ci

    out = q171_bootstrap_ci(spark, SF_DIR)
    rows = out.collect()
    D.release(out)
    assert len(rows) == 20  # one per source
    inside = sum(1 for r in rows if r.p5 <= r.mean_chars <= r.p95)
    # a 90% band from 200 replicates should bracket the sample mean
    # for nearly every source
    assert inside >= 18
    assert all(r.p5 <= r.p50 <= r.p95 for r in rows)


# ------------------------------------------------------------------ #
# plan shape: no Python in any wave-4 hot path; models broadcast
# ------------------------------------------------------------------ #

def test_wave4_plans_stay_jvm_side(spark):
    from sarfile_analyzer_ng_spark.queries import (
        q170_moore_lewis,
        q173_embedding_outliers,
        q174_threshold_sweep,
        q175_split_leakage,
    )

    for fn in (q170_moore_lewis, q173_embedding_outliers,
               q174_threshold_sweep, q175_split_leakage):
        df = fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
        D.release(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the two LM models and the per-dim stats ride broadcast joins
    p170 = q170_moore_lewis(spark, SF_DIR)
    t = p170._jdf.queryExecution().executedPlan().toString()
    D.release(p170)
    assert "BroadcastHashJoin" in t or "BroadcastNestedLoopJoin" in t
