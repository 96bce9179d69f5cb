"""Round-9 wave-5 operators: UniMax epoch-capped allocation (q176),
Dirichlet-prior query-likelihood retrieval (q177), Fisher
label-separation audit (q178) and winsorized robust moments (q179)."""

from __future__ import annotations

import pytest

from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import retrieval as RV
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.functions import text as TX
from sarfile_analyzer_ng_spark.operators import stats as ST


# ------------------------------------------------------------------ #
# UniMax allocation (q176)
# ------------------------------------------------------------------ #

def test_unimax_waterfilling_hand_case(spark):
    inv = spark.createDataFrame(
        [("tiny", 10), ("mid", 100), ("big", 1000)],
        "source string, n_tokens long",
    )
    out = {r.source: r for r in TX.unimax_allocation(
        inv, "source", "n_tokens", budget=300, max_epochs=2).collect()}
    # tiny is capped at 2 epochs = 20 tokens; mid/big split the rest
    assert out["tiny"].capped == 1
    assert out["tiny"].alloc_tokens == pytest.approx(20.0)
    assert out["tiny"].epochs == pytest.approx(2.0)
    assert out["mid"].capped == 0 and out["big"].capped == 0
    assert out["mid"].alloc_tokens == pytest.approx(140.0)
    assert out["big"].alloc_tokens == pytest.approx(140.0)
    assert out["mid"].epochs == pytest.approx(1.4)
    assert out["big"].epochs == pytest.approx(0.14)
    # exact budget conservation
    assert sum(r.alloc_tokens for r in out.values()) == pytest.approx(300.0)


def test_unimax_all_capped_when_budget_exceeds_caps(spark):
    inv = spark.createDataFrame(
        [("a", 10), ("b", 20)], "source string, n_tokens long"
    )
    out = {r.source: r for r in TX.unimax_allocation(
        inv, "source", "n_tokens", budget=10_000, max_epochs=3).collect()}
    assert all(r.capped == 1 for r in out.values())
    assert out["a"].alloc_tokens == pytest.approx(30.0)
    assert out["b"].alloc_tokens == pytest.approx(60.0)
    assert all(r.epochs == pytest.approx(3.0) for r in out.values())


# ------------------------------------------------------------------ #
# Dirichlet query likelihood (q177)
# ------------------------------------------------------------------ #

def test_ql_ranks_matching_doc_first(spark):
    corpus = spark.createDataFrame(
        [
            (1, "submarine sonar array submarine"),
            (2, "alpine meadow flowers bloom"),
            (3, "sonar ping in the deep"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(10, "submarine sonar"), (11, "meadow unseenword")],
        "query_id long, query string",
    )
    out = RV.ql_topk(corpus, qs, "text", "doc_id", k=3)
    rows = out.collect()
    byq = {}
    for r in rows:
        byq.setdefault(r.query_id, []).append(r)
    # doc 1 has both terms (one twice) -> ranks first for query 10
    assert byq[10][0].doc_id == 1 and byq[10][0].rank == 1
    assert {r.doc_id for r in byq[10]} == {1, 3}
    # OOV 'unseenword' is dropped; doc 2 still retrieved via 'meadow'
    assert byq[11][0].doc_id == 2
    assert all(r.score == r.score for r in rows)  # no NaN
    # longer non-matching docs score lower than the concentrated match
    assert byq[10][0].score > byq[10][1].score


# ------------------------------------------------------------------ #
# Fisher separation (q178)
# ------------------------------------------------------------------ #

def test_fisher_flags_separable_dim(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(60):
        lbl = i % 2
        rows.append(
            (i, lbl,
             [float(10.0 * lbl + rng.normal(0, 0.1)),   # separable
              float(rng.normal(0, 1.0)),                # noise
              float(lbl)])                              # exact: within=0
        )
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {r.d: r for r in S.fisher_separation(
        df, "label", "embedding").collect()}
    assert len(out) == 3
    assert out[0].fisher > 100            # strong class signal
    assert out[1].fisher < 1              # pure noise
    assert out[2].fisher is None          # within-class variance 0
    assert out[0].n_classes == 2
    assert out[0].var_between > out[1].var_between


# ------------------------------------------------------------------ #
# winsorized moments (q179)
# ------------------------------------------------------------------ #

def test_winsorized_mean_resists_outlier(spark):
    vals = [float(v) for v in range(1, 100)] + [1_000_000.0]
    df = spark.createDataFrame(
        [("s", v) for v in vals], "event_type string, value double"
    )
    out = ST.winsorized_stats(df, "value", ["event_type"],
                              lo=0.05, hi=0.95)
    r = out.collect()[0]
    D.release(out)
    assert r.n == 100
    assert r.raw_mean > 10_000          # the outlier drags the mean
    assert r.win_mean < 100             # winsorizing bounds its vote
    assert r.p5 <= r.win_mean <= r.p95
    assert r.win_std < 40


def test_ql_champions_sharp_contract(spark):
    """When every term's df <= champions, the champion cut is EXACTLY
    the exact ranking (the q131 sharp contract, applied to QL)."""
    corpus = spark.createDataFrame(
        [(i, f"term{i % 4} shared word{i}") for i in range(12)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "term1 shared")], "query_id long, query string"
    )
    exact = RV.ql_topk(corpus, qs, "text", "doc_id", k=5)
    champ = RV.ql_topk(corpus, qs, "text", "doc_id", k=5, champions=20)
    assert [tuple(r) for r in exact.collect()] == \
           [tuple(r) for r in champ.collect()]


def test_ql_champions_bounds_hot_terms(spark):
    # a white-hot term (in every doc) must not blow up candidate work:
    # with champions=2 only 2 postings of 'shared' are scored
    corpus = spark.createDataFrame(
        [(i, "shared " + "shared " * (i % 3) + f"rare{i}")
         for i in range(30)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "shared")], "query_id long, query string"
    )
    out = RV.ql_topk(corpus, qs, "text", "doc_id", k=10, champions=2)
    assert out.count() == 2  # candidate set is the champion list
