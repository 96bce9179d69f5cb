"""BM25 retrieval (functions/retrieval.py), Zipf diagnostics and
Kneser-Ney scoring (functions/text.py) — value checks against pure-
python references plus the determinism contracts (tie order, k cut).
"""

from __future__ import annotations


import math

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import retrieval as RV
from sarfile_analyzer_ng_spark.functions import text as TX
import pytest

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)


def _bm25_reference(corpus: dict[int, str], queries: dict[int, str],
                    k1: float = RV.BM25_K1, b: float = RV.BM25_B):
    """Row-at-a-time BM25 with the operator's rounding ladder."""
    toks = {d: t.lower().split() for d, t in corpus.items()}
    dl = {d: float(len(ws)) for d, ws in toks.items()}
    n_docs = float(len(toks))
    avgdl = sum(dl.values()) / n_docs
    tf = {d: {} for d in toks}
    for d, ws in toks.items():
        for w in ws:
            tf[d][w] = tf[d].get(w, 0.0) + 1.0
    df = {}
    for d in toks:
        for w in tf[d]:
            df[w] = df.get(w, 0.0) + 1.0
    r8 = lambda v: round(round(v, 8), 8)  # noqa: E731
    out = {}
    for qid, q in queries.items():
        for d in toks:
            contribs = []
            for w in sorted(set(q.lower().split())):
                if w not in tf[d]:
                    continue
                idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
                sat = (tf[d][w] * (k1 + 1.0)) / (
                    tf[d][w] + k1 * (1.0 - b + b * dl[d] / avgdl)
                )
                contribs.append(r8(idf * sat))
            if contribs:
                out[(qid, d)] = (round(sum(contribs), 4), len(contribs))
    return out


def test_bm25_matches_reference_and_cuts_at_k(spark):
    corpus = {
        1: "apple banana cherry",
        2: "apple apple apple durian",
        3: "kiwi lemon mango",
        4: "apple banana banana",
        5: "banana cherry durian kiwi lemon",
    }
    queries = {10: "apple banana", 20: "mango mango kiwi"}
    cdf = spark.createDataFrame(
        [(d, t) for d, t in corpus.items()], "doc_id long, text string"
    )
    qdf = spark.createDataFrame(
        [(q, t) for q, t in queries.items()], "query_id long, query string"
    )
    got = {
        (r.query_id, r.doc_id): (r.score, r.n_terms_hit, r.rank)
        for r in RV.bm25_topk(cdf, qdf, "text", "doc_id", k=3).collect()
    }
    ref = _bm25_reference(corpus, queries)
    # doc 3 shares no term with query 10; docs 1/2/4 & 5 do => k=3 cut
    assert (10, 3) not in got
    for qid in queries:
        top = sorted(
            (k for k in ref if k[0] == qid),
            key=lambda k: (-ref[k][0], k[1]),
        )[:3]
        assert {k for k in got if k[0] == qid} == set(top)
        for rank, (q, d) in enumerate(top, start=1):
            s, n = ref[(q, d)]
            assert got[(q, d)] == (s, n, rank)


def test_bm25_tie_breaks_by_doc_id(spark):
    cdf = spark.createDataFrame(
        [(7, "same words here"), (3, "same words here"),
         (9, "same words here")],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame(
        [(1, "same words")], "query_id long, query string"
    )
    rows = (
        RV.bm25_topk(cdf, qdf, "text", "doc_id", k=2)
        .orderBy("rank").collect()
    )
    assert [r.doc_id for r in rows] == [3, 7]
    assert rows[0].score == rows[1].score


def test_zipf_stats_matches_closed_form(spark):
    # frequencies 8/4/2/1 over four words
    text = " ".join(
        ["alpha"] * 8 + ["beta"] * 4 + ["gamma"] * 2 + ["delta"]
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = TX.zipf_stats(df, "text", "doc_id").collect()[0]
    assert row.vocab_size == 4 and row.n_tokens == 15
    assert row.top1_share == round(8 / 15, 4)
    xs = [round(math.log(r), 8) for r in (1, 2, 3, 4)]
    ys = [round(math.log(c), 8) for c in (8.0, 4.0, 2.0, 1.0)]
    m = 4.0
    sx, sy = round(sum(xs), 8), round(sum(ys), 8)
    sxx = round(sum(x * x for x in xs), 8)
    sxy = round(sum(x * y for x, y in zip(xs, ys)), 8)
    slope = (sxy - sx * sy / m) / (sxx - sx * sx / m)
    intercept = sy / m - slope * sx / m
    assert row.zipf_slope == round(round(slope, 8), 4)
    assert row.zipf_intercept == round(round(intercept, 8), 4)


def _kn_reference(corpus: dict[int, str], d: float = 0.75):
    toks = {i: t.lower().split() for i, t in corpus.items()}
    uni, bi = {}, {}
    for ws in toks.values():
        for w in ws:
            uni[w] = uni.get(w, 0.0) + 1.0
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0.0) + 1.0
    n = sum(uni.values())
    bt = float(len(bi))
    cv = {}
    n1p_fwd = {}
    n1p_bwd = {}
    for (a, b), c in bi.items():
        cv[a] = cv.get(a, 0.0) + c
        n1p_fwd[a] = n1p_fwd.get(a, 0.0) + 1.0
        n1p_bwd[b] = n1p_bwd.get(b, 0.0) + 1.0
    out = {}
    for i, ws in toks.items():
        lps = []
        for pos, w in enumerate(ws):
            if pos == 0:
                lp = math.log(uni[w] / n)
            else:
                v = ws[pos - 1]
                p = (
                    max(bi.get((v, w), 0.0) - d, 0.0) / cv[v]
                    + d * n1p_fwd[v] / cv[v] * (n1p_bwd[w] / bt)
                )
                lp = math.log(p)
            lps.append(round(round(lp, 8), 8))
        avg = round(sum(lps) / len(lps), 4)
        out[i] = (len(lps), avg, round(math.exp(-avg), 4))
    return out


def test_kn_bigram_matches_reference(spark):
    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the rug",
        3: "a cat and a dog",
        4: "san francisco san francisco san francisco",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.avg_logp, r.ppl)
        for r in TX.kn_bigram_logprob(df, "text", "doc_id").collect()
    }
    assert got == _kn_reference(corpus)


def test_kn_continuation_downweights_context_bound_words(spark):
    """'francisco' is frequent but only ever follows 'san' — its KN
    continuation probability must be lower than that of a word with
    the same unigram count spread across distinct contexts."""
    corpus = {
        1: "san francisco is big",
        2: "visit san francisco now",
        3: "san francisco has hills",
        4: "cats like cream",
        5: "dogs like parks",
        6: "birds like seeds",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], "doc_id long, text string"
    )
    toks = {i: t.split() for i, t in corpus.items()}
    # both 'francisco' and 'like' occur 3x; 'francisco' has 1 context,
    # 'like' has 3 -> continuation mass differs 1 vs 3
    assert sum(ws.count("francisco") for ws in toks.values()) == 3
    assert sum(ws.count("like") for ws in toks.values()) == 3
    scored = TX.kn_bigram_logprob(df, "text", "doc_id")
    assert scored.count() == 6  # all docs scored, no NaN/inf drops
    vals = scored.agg(F.min("avg_logp"), F.max("avg_logp")).collect()[0]
    assert all(math.isfinite(v) for v in vals)
    ref = _kn_reference(corpus)
    got = {
        r.doc_id: (r.n_tokens, r.avg_logp, r.ppl)
        for r in scored.collect()
    }
    assert got == ref


def test_ngram_novelty_separates_templates_from_novel_text(spark):
    from sarfile_analyzer_ng_spark.functions import dedup as D

    rows = [
        # two identical templated docs: every gram shared -> novelty 0
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        # fully novel doc: no gram appears elsewhere -> novelty 1
        (3, "completely original writing about glacier firn physics"),
        # short doc (< 3 words): whole-text fallback shingle, unique
        (4, "hi there"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           D.ngram_novelty(df, "text", "doc_id").collect()}
    assert got[1].novelty == 0.0 and got[2].novelty == 0.0
    assert got[1].n_shingles == 7  # 9 words -> 7 distinct 3-grams
    assert got[3].novelty == 1.0
    assert got[4].n_shingles == 1 and got[4].novelty == 1.0


def test_quantile_normalize_ranks_within_group_and_gates(spark):
    from sarfile_analyzer_ng_spark.functions import text as TX

    rows = [
        # source a: scores 1..5 -> pct_rank 0, .25, .5, .75, 1
        *[(i, "a", float(i)) for i in range(1, 6)],
        # source b: all-tied scores -> every pct_rank 0 (peer rank)
        *[(10 + i, "b", 7.0) for i in range(4)],
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    got = {r.doc_id: r for r in TX.quantile_normalize(
        df, "quality", ["source"], keep_frac=0.3).collect()}
    assert [got[i].pct_rank for i in range(1, 6)] == [0.0, 0.25, 0.5, 0.75, 1.0]
    # keep = pct_rank >= 0.7 -> docs 4 and 5 only in source a
    assert [got[i].keep for i in range(1, 6)] == [0, 0, 0, 1, 1]
    # ties: all of source b shares percentile 0 (and is dropped)
    assert all(got[10 + i].pct_rank == 0.0 for i in range(4))
    assert all(got[10 + i].keep == 0 for i in range(4))


def test_hashed_gram_classifier_separates_disjoint_vocab(spark):
    """q130's operator: provenance-labeled sources with disjoint
    vocabularies must be separable by the hashed-gram logreg (the
    fastText claim) — and the feature map must be normalized counts."""
    from sarfile_analyzer_ng_spark.functions import classify as C

    good_words = ["curated", "reference", "encyclopedia", "verified"]
    bad_words = ["spam", "casino", "clickbait", "winner"]
    rows = []
    for i in range(30):
        rows.append(
            (i, "wiki", " ".join(good_words[(i + j) % 4] for j in range(12)))
        )
        rows.append(
            (100 + i, "crawl", " ".join(bad_words[(i + j) % 4] for j in range(12)))
        )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    feats = C.hashed_gram_features(df, "text", "doc_id", "source",
                                   ("wiki",), buckets=8)
    row = feats.where(F.col("doc_id") == 0).collect()[0]
    assert row.label == 1
    assert abs(sum(row[f"x{j}"] for j in range(8)) - 1.0) < 1e-4  # normalized
    cols = [f"x{j}" for j in range(8)]
    w = C.logreg_train(feats, cols, "label", iters=20, lr=2.0)
    scored = C.logreg_score(feats, cols, w)
    acc = scored.where(
        (F.col("pred") == F.col("label"))
    ).count() / scored.count()
    assert acc >= 0.9


def test_bm25_champions_recall_and_bound(spark):
    """q131's operator: on a Zipf-ish corpus (common stopwords + rare
    content words) champion lists at P=64 must reproduce >= 0.9 of the
    exact top-k pairs, and with a tiny P the per-term scored postings
    must be bounded at P."""
    import random

    rng = random.Random(7)
    stop = ["the", "of", "and", "to", "in"]
    content = [f"w{i}" for i in range(200)]
    rows = []
    for d in range(300):
        words = [rng.choice(stop) for _ in range(10)] + rng.sample(content, 6)
        rng.shuffle(words)
        rows.append((d, " ".join(words)))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(q, rows[q * 3][1].split()[0] + " " + rows[q * 3][1].split()[11])
         for q in range(20)],
        "query_id long, query string",
    )
    exact = {
        (r.query_id, r.doc_id)
        for r in RV.bm25_topk(corpus, queries, "text", "doc_id", k=5).collect()
    }
    champ = {
        (r.query_id, r.doc_id)
        for r in RV.bm25_topk_champions(
            corpus, queries, "text", "doc_id", k=5, champions=64
        ).collect()
    }
    # stopword postings get cut at P, so ranks inside near-tied
    # candidate sets can shuffle — the documented approximation
    assert len(exact & champ) / len(exact) >= 0.7

    # the sharp contract: if every query term has df <= P, no posting
    # is dropped and champion scoring IS exact (here: content words
    # only, df ~ 9 << 64)
    rare_q = spark.createDataFrame(
        [(q, f"w{(q * 11) % 200} w{(q * 7 + 3) % 200}") for q in range(20)],
        "query_id long, query string",
    )
    exact_r = {
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in RV.bm25_topk(corpus, rare_q, "text", "doc_id", k=5).collect()
    }
    champ_r = {
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in RV.bm25_topk_champions(
            corpus, rare_q, "text", "doc_id", k=5, champions=64
        ).collect()
    }
    assert exact_r == champ_r

    # bound: P=2 -> each (query, term) can contribute at most 2 docs
    tiny = RV.bm25_topk_champions(
        corpus, queries, "text", "doc_id", k=100, champions=2
    )
    per_q = tiny.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 2 * 2  # 2 query terms x 2 champions


def test_rrf_fuse_known_values(spark):
    """Hand-computed RRF on a 1-query pool: doc in both lists beats a
    doc at rank 1 of only one list; absent-side rank rides along as 0."""
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, doc_id long, rank long"
    )
    rows = {r["doc_id"]: r for r in RV.rrf_fuse(lex, sem, k=3).collect()}
    # doc 11: 1/62 + 1/61; doc 10: 1/61; doc 12: 1/62
    assert rows[11]["rank"] == 1
    assert rows[10]["rank"] == 2
    assert rows[12]["rank"] == 3
    assert abs(rows[11]["rrf"] - (round(1 / 62, 8) + round(1 / 61, 8))) < 1e-9
    assert rows[10]["lex_rank"] == 1 and rows[10]["sem_rank"] == 0
    assert rows[12]["lex_rank"] == 0 and rows[12]["sem_rank"] == 2


def test_rrf_fuse_tie_breaks_by_doc_id(spark):
    """Equal RRF mass → ascending doc_id decides, deterministically."""
    lex = spark.createDataFrame(
        [(1, 20, 1), (1, 7, 2)], "query_id long, doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(1, 5, 1), (1, 30, 2)], "query_id long, doc_id long, rank long"
    )
    rows = RV.rrf_fuse(lex, sem, k=4).collect()
    got = [(r["rank"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])]
    # rank-1 contributions tie (docs 5 and 20), rank-2 tie (7 and 30)
    assert got == [(1, 5), (2, 20), (3, 7), (4, 30)]


def test_mmr_rerank_diversity_beats_near_copy(spark):
    """Pool: A (rel 1.0), B (rel 0.95, near-copy of A), C (rel 0.6,
    orthogonal). Step 1 takes A; step 2 must take C — B's similarity
    penalty (0.3 * ~1.0) outweighs its relevance edge; step 3 takes B.
    Hand-checked: mmr2(B) = .7*.95 - .3*sim(A,B) ≈ .368 < mmr2(C) =
    .7*.6 = .42."""
    pool = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 0.95), (1, 30, 0.6)],
        "query_id long, doc_id long, rel double",
    )
    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.999, 0.045]), (30, [0.0, 1.0])],
        "doc_id long, embedding array<double>",
    )
    rows = {r["step"]: r for r in
            RV.mmr_rerank(pool, vecs, k=3, lam=0.7).collect()}
    assert rows[1]["doc_id"] == 10
    assert rows[2]["doc_id"] == 30
    assert rows[3]["doc_id"] == 20
    assert abs(rows[1]["mmr"] - 0.7) < 1e-9
    assert abs(rows[2]["mmr"] - 0.42) < 1e-9


def test_mmr_rerank_lam1_is_pure_relevance_order(spark):
    """λ = 1 disables the penalty: selection order must equal the rel
    ranking (ties by doc id)."""
    pool = spark.createDataFrame(
        [(1, 5, 0.9), (1, 6, 0.9), (1, 7, 0.8)],
        "query_id long, doc_id long, rel double",
    )
    vecs = spark.createDataFrame(
        [(5, [1.0, 0.0]), (6, [1.0, 0.01]), (7, [1.0, 0.02])],
        "doc_id long, embedding array<double>",
    )
    rows = sorted(RV.mmr_rerank(pool, vecs, k=3, lam=1.0).collect(),
                  key=lambda r: r["step"])
    assert [r["doc_id"] for r in rows] == [5, 6, 7]


def _rank_df(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, rank integer, doc_id long")


def test_ndcg_audit_identical_ranking_is_one(spark):
    exact = _rank_df(spark, [(1, r, 100 + r) for r in range(1, 6)])
    out = RV.ndcg_audit(exact, exact, k=5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["ndcg"] == 1.0 and r["n_hits"] == 5 and r["dcg"] == r["idcg"]


def test_ndcg_audit_disjoint_ranking_is_zero(spark):
    exact = _rank_df(spark, [(1, r, 100 + r) for r in range(1, 6)])
    approx = _rank_df(spark, [(1, r, 900 + r) for r in range(1, 6)])
    out = RV.ndcg_audit(approx, exact, k=5).collect()[0]
    assert out["ndcg"] == 0.0 and out["n_hits"] == 0 and out["dcg"] == 0.0


def test_ndcg_audit_swap_at_bottom_beats_swap_at_top(spark):
    """nDCG is rank-sensitive: swapping ranks 4/5 must cost less than
    swapping ranks 1/2."""
    exact = _rank_df(spark, [(1, r, 100 + r) for r in range(1, 6)])
    swap_top = _rank_df(
        spark, [(1, 1, 102), (1, 2, 101), (1, 3, 103), (1, 4, 104),
                (1, 5, 105)])
    swap_bot = _rank_df(
        spark, [(1, 1, 101), (1, 2, 102), (1, 3, 103), (1, 4, 105),
                (1, 5, 104)])
    top = RV.ndcg_audit(swap_top, exact, k=5).collect()[0]["ndcg"]
    bot = RV.ndcg_audit(swap_bot, exact, k=5).collect()[0]["ndcg"]
    assert bot > top
    assert 0 < top < 1 and 0 < bot < 1


def test_ndcg_audit_short_exact_list_keeps_ndcg_in_unit_range(spark):
    """A query whose exact side returned < k rows gets the smaller
    IDCG — ndcg stays <= 1 even when approx ranks more rows."""
    exact = _rank_df(spark, [(1, 1, 101), (1, 2, 102)])
    approx = _rank_df(spark, [(1, r, 100 + r) for r in range(1, 6)])
    out = RV.ndcg_audit(approx, exact, k=5).collect()[0]
    assert out["n_hits"] == 2
    assert out["ndcg"] == 1.0  # both hits at their ideal positions


def test_rm3_expansion_excludes_query_terms_and_ranks_feedback_terms(spark):
    corpus = spark.createDataFrame(
        [
            (1, "apple banana cherry apple apple"),
            (2, "apple banana durian durian"),
            (3, "zebra yak xylophone walrus"),
            (4, "apple banana elderberry"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(100, "apple banana")],
                               "query_id long, query string")
    out = RV.rm3_expansion(corpus, qs, "text", "doc_id", k=3, m=3).collect()
    terms = [r["term"] for r in sorted(out, key=lambda r: r["rank"])]
    # original query terms never come back as expansions
    assert "apple" not in terms and "banana" not in terms
    # expansion terms come from the feedback (apple/banana) docs only
    assert set(terms) <= {"cherry", "durian", "elderberry"}
    # weights are positive and ranked descending
    ws = [r["rm_weight"] for r in sorted(out, key=lambda r: r["rank"])]
    assert all(w > 0 for w in ws) and ws == sorted(ws, reverse=True)


def test_rm3_expansion_terms_only_from_topk_docs(spark):
    """A term exclusive to a non-retrieved doc cannot be suggested."""
    corpus = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana durian"),
            (3, "quokka quokka quokka"),  # shares no query term
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(100, "apple")],
                               "query_id long, query string")
    out = RV.rm3_expansion(corpus, qs, "text", "doc_id", k=5, m=10).collect()
    assert "quokka" not in {r["term"] for r in out}
