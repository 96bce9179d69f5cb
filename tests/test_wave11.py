"""Round-10 wave-5/6 operators: all-pairs TF-IDF cosine with prefix
filtering (q195), Flesch readability (q196), canonical-URL dup-rate
(q197) and the mergeable rank-sample quantile summary (q198)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.functions import web as W
from sarfile_analyzer_ng_spark.operators import sketches as SK

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ #
# all-pairs cosine with prefix filtering (q195)
# ------------------------------------------------------------------ #

APSS_DOCS = [
    (1, "spark shuffle join window agg"),
    (2, "spark shuffle join window agg"),          # identical to 1
    (3, "spark shuffle join window sort"),         # one word swapped
    (4, "parquet column scan filter prune"),       # disjoint topic
    (5, "parquet column scan filter prune extra"),
    (6, "alpha beta gamma delta epsilon"),         # fully unique
]


def _numpy_tfidf_pairs(docs, tau):
    """Unrounded reference: exact TF-IDF cosine over all pairs."""
    vocab = sorted({w for _, t in docs for w in t.split()})
    n = len(docs)
    df_ = {w: sum(1 for _, t in docs if w in t.split()) for w in vocab}
    mats = {}
    for i, t in docs:
        v = np.zeros(len(vocab))
        toks = t.split()
        for j, w in enumerate(vocab):
            tf = toks.count(w)
            if tf:
                v[j] = tf * math.log((n + 1) / (df_[w] + 1))
        nv = np.linalg.norm(v)
        mats[i] = v / nv if nv > 0 else v
    out = {}
    ids = [i for i, _ in docs]
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            out[(ids[a], ids[b])] = float(mats[ids[a]] @ mats[ids[b]])
    return out


def test_apss_matches_bruteforce_pair_set(spark):
    tau = 0.5
    df = spark.createDataFrame(APSS_DOCS, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.cosine for r in
           S.allpairs_cosine_tfidf(df, "text", "doc_id", tau=tau).collect()}
    ref = _numpy_tfidf_pairs(APSS_DOCS, tau)
    # completeness: every clearly-over pair is found; soundness:
    # every reported pair is clearly over (0.01 margin absorbs the
    # rnd-ladder rounding)
    for pair, c in ref.items():
        if c >= tau + 0.01:
            assert pair in got, (pair, c)
        if pair in got:
            assert c >= tau - 0.01, (pair, c)
            assert got[pair] == pytest.approx(c, abs=1e-3)
    assert got[(1, 2)] == 1.0
    assert 0.5 <= got[(1, 3)] < 1.0
    assert not any({a, b} & {6} for a, b in got)


def test_apss_prefix_filter_prunes_candidates(spark):
    # identical docs must pair even at the tightest tau; a doc whose
    # only overlap is the corpus-wide STOPWORD must not survive the
    # max-df cut, and the stopword must not generate candidates
    rows = ([(i, "alpha beta gamma common") for i in (1, 2)]
            + [(3, "delta epsilon zeta common")]
            + [(10 + j, f"filler{j}a filler{j}b common")
               for j in range(6)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in
           S.allpairs_cosine_tfidf(df, "text", "doc_id",
                                   tau=0.9).collect()}
    assert got == {(1, 2)}


# ------------------------------------------------------------------ #
# readability (q196)
# ------------------------------------------------------------------ #

def test_flesch_bands_order(spark):
    from sarfile_analyzer_ng_spark.queries import q196_readability

    rows = q196_readability(spark, SF_DIR).collect()
    assert rows and all(r.n_docs > 0 for r in rows)
    order = {"very_easy": 0, "easy": 1, "medium": 2, "hard": 3,
             "very_hard": 4}
    assert all(r.band in order for r in rows)
    # band means must be ordered with the band labels
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for rs in by_lang.values():
        rs = sorted(rs, key=lambda r: order[r.band])
        means = [r.avg_flesch for r in rs]
        assert means == sorted(means, reverse=True)


def test_flesch_hand_case(spark):
    # 6 words, 2 sentences, syllable groups: the(1) cat(1) sat(1)
    # the(1) dog(1) ran(1) = 6 -> flesch = 206.835 - 1.015*3 - 84.6*1
    df = spark.createDataFrame([(1, "the cat sat. the dog ran.")],
                               "doc_id long, text string")
    t = F.lower(F.trim(F.col("text")))
    got = df.select(
        F.regexp_count(t, F.lit(r"[.!?]+")).alias("s"),
        F.regexp_count(t, F.lit(r"[aeiouy]+")).alias("y"),
        F.size(F.split(t, r"\s+")).alias("w"),
    ).collect()[0]
    assert (got.s, got.y, got.w) == (2, 6, 6)
    expected = 206.835 - 1.015 * 3.0 - 84.6 * 1.0
    assert expected == pytest.approx(119.19)


# ------------------------------------------------------------------ #
# canonical-URL dup rate (q197)
# ------------------------------------------------------------------ #

def test_url_dup_rate_collapses_refetches(spark):
    from sarfile_analyzer_ng_spark.queries import q197_url_dup_rate

    rows = q197_url_dup_rate(spark, SF_DIR).collect()
    assert rows
    # re-fetches exist, so somewhere fetches > uniques and the rate
    # is positive; and no domain can have MORE uniques than fetches
    assert all(r.n_unique <= r.n_fetches for r in rows)
    assert any(r.dup_rate > 0 for r in rows)


# ------------------------------------------------------------------ #
# rank-sample quantile summary (q198)
# ------------------------------------------------------------------ #

def test_rank_sample_quantiles_bounds(spark):
    rows = [(i, float((i * 37) % 1000)) for i in range(1, 2001)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out = SK.rank_sample_quantiles(df, "value", "event_id",
                                   probs=(0.25, 0.5, 0.9),
                                   m=32, shards=4)
    got = {r.p: r for r in out.collect()}
    D.release(out)
    assert set(got) == {0.25, 0.5, 0.9}
    for r in got.values():
        assert r.within_bound
        assert r.est_rank >= r.target_rank
        assert 0 <= r.exact_rank - r.est_rank <= r.err_bound
        # err_bound = sum of (step-1): 4 shards of ~500 -> step 16
        assert r.err_bound <= 4 * 16
    # the p50 answer lands within bound of the true median rank
    assert abs(got[0.5].exact_rank - 1000) <= got[0.5].err_bound + 32


def test_rank_sample_exact_when_m_covers_shard(spark):
    rows = [(i, float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out = SK.rank_sample_quantiles(df, "value", "event_id",
                                   probs=(0.5,), m=200, shards=2)
    r = out.collect()[0]
    D.release(out)
    # step = 1 everywhere: the summary IS the data, est == exact
    assert r.err_bound == 0 and r.est_rank == r.exact_rank == 50
    assert r.est_value == 50.0 and r.within_bound
