"""Round-10 wave-1 coverage: the ADVICE fixes (kcenter id
types / pool exclusion, interval_join floor semantics, Benford
cents-gate, QL docstring contract), the
URL/domain curation family (q190/q191), passage-level MinHash
near-dup (q192), Misra-Gries heavy hitters (q193), and the
ANN nDCG audit (q194)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.functions import web as W
from sarfile_analyzer_ng_spark.operators import sketches as SK
from sarfile_analyzer_ng_spark.operators import timeseries as TS

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ #
# ADVICE fixes
# ------------------------------------------------------------------ #

def test_kcenter_string_ids(spark):
    df = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [10.0, 0.0]), ("c", [0.0, 9.0])],
        "name string, embedding array<double>",
    )
    out = S.kcenter_select(df, "name", "embedding", k=3).collect()
    assert [r.sel_round for r in out] == [1, 2, 3]
    assert out[0].name == "b"            # largest norm seeds
    assert {r.name for r in out} == {"a", "b", "c"}
    assert isinstance(out[1].name, str)


def test_kcenter_duplicates_and_k_gt_n(spark):
    # duplicate points: once both copies' dmin is 0, a center must
    # never be re-picked; k > n exhausts the pool and stops short
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vid long, embedding array<double>",
    )
    out = S.kcenter_select(df, "vid", "embedding", k=5).collect()
    assert len(out) == 3                       # pool exhausted, no repeat
    assert len({r.vid for r in out}) == 3


def test_kcenter_empty_input(spark):
    df = spark.createDataFrame([], "vid long, embedding array<double>")
    assert S.kcenter_select(df, "vid", "embedding", k=3).count() == 0


def test_interval_join_negative_epoch_floor(spark):
    # pre-1970 timestamps: cast("long") truncation would bucket
    # -0.5h to 0 while floor puts it at -1 — the SQL twin's floor
    # semantics must hold on both sides of the epoch
    t = datetime.datetime
    pts = spark.createDataFrame(
        [(t(1969, 12, 31, 23, 30),), (t(1970, 1, 1, 0, 30),)],
        "ts timestamp",
    )
    ivs = spark.createDataFrame(
        [(t(1969, 12, 31, 23, 0), t(1969, 12, 31, 23, 59)),],
        "s timestamp, e timestamp",
    )
    out = TS.interval_join(pts, ivs, "ts", "s", "e").collect()
    assert len(out) == 1 and out[0].ts == t(1969, 12, 31, 23, 30)
    bursts = TS.burst_intervals(
        spark.createDataFrame(
            [(t(1969, 12, 31, 23, m),) for m in (10, 20, 30, 40)],
            "ts timestamp"),
        "ts", bucket_seconds=3600, min_count=4,
    ).collect()
    assert len(bursts) == 1 and bursts[0].n_events == 4


# ------------------------------------------------------------------ #
# URL canonicalization / domain rollup (q190/q191)
# ------------------------------------------------------------------ #

CANON_CASES = [
    ("HTTP://WWW.Example.COM:80//a//b/?utm_source=x&b=2&a=1#frag",
     "http://example.com/a/b?a=1&b=2"),
    ("https://cdn.Site.NET:443/path/", "https://cdn.site.net/path"),
    ("https://site.net:8443/x", "https://site.net:8443/x"),
    ("http://host.co.uk", "http://host.co.uk/"),
    ("https://a.b.com/?gclid=1&fbclid=2&ref=hp", "https://a.b.com/"),
    ("not a url", "not a url"),
]


def test_canonical_url_rules(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
    got = [r.c for r in
           df.select(W.canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in CANON_CASES]


def test_registrable_domain(spark):
    cases = [
        ("sub.a.example.com", "example.com"),
        ("www2.shop.co.uk", "shop.co.uk"),
        ("deep.gov.ac.jp", "gov.ac.jp"),
        ("localhost", "localhost"),
        ("a.io", "a.io"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [r.d for r in
           df.select(W.registrable_domain(F.col("h")).alias("d")).collect()]
    assert got == [want for _, want in cases]


def test_q190_plan_is_pure_codegen(spark):
    from sarfile_analyzer_ng_spark.queries import q190_url_canonicalize

    plan = q190_url_canonicalize(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # canonicalization is map-only on the fact side: the only
    # exchanges are the KB-sized PSL dim broadcasts (r12), never a
    # shuffle of the URL rows
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_q191_blocklist_flags(spark):
    from sarfile_analyzer_ng_spark.queries import (BLOCKED_DOMAINS,
                                                   q191_domain_rollup)

    rows = {r.domain: r for r in q191_domain_rollup(spark, SF_DIR).collect()}
    hit = [d for d in BLOCKED_DOMAINS if d in rows]
    assert hit, "blocklist must name domains that actually occur"
    for d in hit:
        assert rows[d].verdict == "drop" and rows[d].blocked == 1
    kept = [r for r in rows.values() if r.blocked == 0]
    assert kept and all(r.verdict == "keep" for r in kept)


# ------------------------------------------------------------------ #
# passage-level near-dup (q192)
# ------------------------------------------------------------------ #

def _pnd_corpus(spark):
    base = ("the quick brown fox jumps over a lazy dog while rain "
            "falls on the quiet empty street tonight")  # 18 words
    boiler = "please subscribe to our daily newsletter and follow"  # 8 words
    rows = [
        (1, base),
        # 8 unique words then the boiler, passage-aligned
        (2, "alpha beta gamma delta epsilon zeta eta theta " + boiler),
        (3, "one two three four five six seven eight " + boiler),
        # paraphrased boiler: ONE word swapped (the LAST, so only one
        # of the six passage shingles moves — jaccard 5/7)
        (4, "red orange yellow green blue indigo violet pink "
            + boiler.replace("follow", "join")),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_passage_near_dups_exact_and_paraphrase(spark):
    out = D.passage_near_dup_pairs(
        _pnd_corpus(spark), "text", "doc_id",
        passage_words=8, num_hashes=16, bands=8, threshold=0.4,
    )
    pairs = {(r.doc_a, r.idx_a, r.doc_b, r.idx_b): r.est_jaccard
             for r in out.collect()}
    D.release(out)
    # identical boiler passages (docs 2,3 idx 1) are exact
    assert pairs[(2, 1, 3, 1)] == 1.0
    # the paraphrase (doc 4) is found but NOT exact
    para = [v for (a, ia, b, ib), v in pairs.items()
            if {a, b} & {4} and {a, b} & {2, 3} and ia == 1 and ib == 1]
    assert para and all(0.4 <= v < 1.0 for v in para)
    # unrelated passages never pair
    assert not any({a, b} & {1} for (a, ia, b, ib) in pairs)


def test_passage_near_dups_max_df_cap(spark):
    # 30 copies of one template passage: with a cap below 30 the hot
    # bands drop and the quadratic pair set disappears
    rows = [(i, "spam spam spam alpha beta gamma delta epsilon")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.passage_near_dup_pairs(df, "text", "doc_id",
                                        passage_words=8)
    n_un = uncapped.count()
    D.release(uncapped)
    capped = D.passage_near_dup_pairs(df, "text", "doc_id",
                                      passage_words=8, max_df=10)
    n_cap = capped.count()
    D.release(capped)
    assert n_un == 30 * 29 // 2 and n_cap == 0


# ------------------------------------------------------------------ #
# Misra-Gries heavy hitters (q193)
# ------------------------------------------------------------------ #

def _token_df(spark, counts: dict[str, int]):
    rows = [(t,) for t, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "tok string")


def test_mg_topk_finds_heavy_hitters(spark):
    counts = {"hot": 50, "warm": 30, **{f"cold{i}": 1 for i in range(40)}}
    out = {r.item: r for r in
           SK.mg_topk(_token_df(spark, counts), "tok", k=5,
                      shards=4).collect()}
    assert "hot" in out and "warm" in out
    n = 50 + 30 + 40
    for r in out.values():
        assert r.est <= r.true_cnt          # MG never overestimates
        assert r.true_cnt - r.est == r.gap
        assert r.bound_ok and r.gap * 6 <= 2 * n
    assert len(out) <= 5 * 4  # k per shard is the only state


def test_mg_topk_exact_when_k_covers_vocab(spark):
    counts = {"a": 5, "b": 3, "c": 2}
    out = {r.item: r for r in
           SK.mg_topk(_token_df(spark, counts), "tok", k=5,
                      shards=2).collect()}
    assert {k: v.est for k, v in out.items()} == counts
    assert all(r.gap == 0 for r in out.values())


# ------------------------------------------------------------------ #
# ANN nDCG audit (q194)
# ------------------------------------------------------------------ #

def test_q194_ndcg_bounds_and_recall_consistency(spark):
    from sarfile_analyzer_ng_spark.queries import (q142_ivf_recall,
                                                   q194_ann_ndcg_audit)

    ndcg = {r.query_id: r for r in
            q194_ann_ndcg_audit(spark, SF_DIR).collect()}
    rec = {r.query_id: r for r in q142_ivf_recall(spark, SF_DIR).collect()}
    assert set(ndcg) == set(rec)
    for qid, r in ndcg.items():
        assert 0.0 <= r.ndcg <= 1.0
        assert r.n_hits == rec[qid].n_hit      # same probed route
        if rec[qid].recall == 1.0:
            assert r.ndcg >= 0.9               # full recall ⇒ near-perfect order
        if r.n_hits < 5:
            assert r.ndcg < 1.0
