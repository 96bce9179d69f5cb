"""Distributed sparse retrieval over the document corpus.

The reference serves its analytics over pre-parsed frames (reference
code/dia_compute_pl.py builds per-metric frames; api/services.py:80-
524 exposes them); it has no free-text retrieval. At LLM-pipeline
scale, BM25 retrieval is a first-class curation tool — finding the
corpus passages most relevant to an eval prompt is the standard
pre-step of decontamination audits ("what WOULD a search engine
return for this benchmark question?") and of retrieval-augmented
pretraining mixes (Borgeaud et al. 2022, RETRO; Izacard et al. 2022).

Design (Spark-first):

- The corpus side is the big side: one token explode → (doc, term,
  tf) agg and one (doc → length) agg, both combinable shuffles keyed
  by token/doc. Document frequencies reduce the term-count table one
  step further (term-keyed agg).
- The query side is an eval suite — bounded by contract (thousands,
  not billions) — so the per-term query list BROADCASTS and the
  score join stays a map-side hash join against the corpus postings.
  Nothing query-sized ever shuffles the corpus.
- Scoring is the Lucene BM25 variant: ``idf = ln(1 + (N - df + .5) /
  (df + .5))`` (always positive, unlike the classic Robertson idf)
  with tf saturation ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``.
  Query terms are DISTINCT per query (short-query convention —
  Lucene's practical default where repeated query terms just rescale
  scores); per-(query, doc, term) contributions are pre-rounded at 8
  digits before the sum so both engines aggregate identical values
  (the util.rnd contract), and the final score is rounded at 4.
- Top-k per query is a rank window partitioned by query — k rows per
  query leave the shuffle, ties broken by doc id so the cut is
  deterministic cross-engine.

At 100 TB: postings (term, doc, tf) is the classic inverted-index
shard layout — the shuffle key IS the index key, so the model never
sits on one machine; df/idf is |vocab|-sized; the query broadcast is
eval-suite-sized; per-query state after the window cut is k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import fan_out, rnd

BM25_K1 = 1.2
BM25_B = 0.75


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    )


def corpus_postings(corpus: DataFrame, text_col: str,
                    id_col: str) -> DataFrame:
    """The inverted index' base table: (w, doc, tf). Exposed so a
    session can build it ONCE and hand it to every ranker
    (bm25_topk / bm25_topk_champions / ql_topk / rm3_expansion take
    it via ``postings=``) — the r12 optimization: three retrieval
    memos plus q134/q154/q188 each re-tokenized the same corpus
    (two explode scans per build) before sharing landed."""
    toks = _tokens(corpus, text_col, id_col)
    return toks.groupBy("w", "doc").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )


def _index_frames(corpus: DataFrame, text_col: str, id_col: str,
                  postings: DataFrame | None = None,
                  ) -> tuple[DataFrame, DataFrame, DataFrame,
                             DataFrame]:
    """(postings, doclen, df_tbl, n_avg) from a corpus frame — the
    four tables a BM25 index consists of. ``doclen`` derives from
    the postings (dl = Σ tf per doc — exact integer counts in
    doubles, value-identical to counting tokens) so the corpus is
    tokenized ONCE per build instead of twice; pass ``postings`` to
    skip even that (the shared session index)."""
    if postings is None:
        postings = corpus_postings(corpus, text_col, id_col)
    doclen = postings.groupBy("doc").agg(
        F.sum("tf").alias("dl")
    )
    n_avg = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_tbl = postings.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    return postings, doclen, df_tbl, n_avg


def _qterms(queries: DataFrame) -> DataFrame:
    return (
        fan_out(queries)
        .select(
            F.col("query_id").alias("qid"),
            F.explode(
                F.split(F.lower(F.trim(F.col("query"))), r"\s+")
            ).alias("w"),
        )
        .distinct()
    )


def _score_and_rank(postings: DataFrame, doclen: DataFrame,
                    df_tbl: DataFrame, n_avg: DataFrame,
                    qterms: DataFrame, k: int,
                    champions: int | None, round_to: int) -> DataFrame:
    """The shared scoring core: (optionally champion-cut) postings ⨝
    broadcast query terms ⨝ broadcast per-term idf inputs ⨝ doc
    lengths → per-(query, doc) sum → rank window cut at k."""
    src = postings
    if champions is not None:
        champ_win = Window.partitionBy("w").orderBy(
            F.col("tf").desc(), F.col("doc").asc()
        )
        src = (
            postings.withColumn("_r", F.row_number().over(champ_win))
            .where(F.col("_r") <= champions)
            .drop("_r")
        )
    # df is vocab-sized; cut it to query terms first so it broadcasts
    df_q = df_tbl.join(F.broadcast(qterms.select("w").distinct()), "w")
    scored = (
        src
        .join(F.broadcast(qterms), "w")
        .join(F.broadcast(df_q), "w")
        .join(doclen, "doc")
        .crossJoin(F.broadcast(n_avg))
        .select(
            "qid", "doc",
            rnd(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                ),
                8,
            ).alias("contrib"),
        )
    )
    agg = scored.groupBy("qid", "doc").agg(
        rnd(F.sum("contrib"), round_to).alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("doc").alias("doc_id"),
            "score",
            "n_terms_hit",
        )
    )


def bm25_topk(corpus: DataFrame, queries: DataFrame, text_col: str,
              id_col: str, k: int = 5,
              round_to: int = 4,
              postings: DataFrame | None = None) -> DataFrame:
    """Top-``k`` corpus documents per query under BM25.

    ``corpus``: (id_col, text_col, …) — the big side.
    ``queries``: (query_id, query) — bounded eval suite.

    Returns (query_id, rank, doc_id, score, n_terms_hit) with exactly
    the documents sharing ≥1 query term, ranked by (score DESC,
    doc ASC), cut at k.
    """
    postings, doclen, df_tbl, n_avg = _index_frames(corpus, text_col,
                                                    id_col, postings)
    return _score_and_rank(postings, doclen, df_tbl, n_avg,
                           _qterms(queries), k, None, round_to)


def bm25_topk_champions(corpus: DataFrame, queries: DataFrame,
                        text_col: str, id_col: str, k: int = 5,
                        champions: int = 64,
                        postings: DataFrame | None = None) -> DataFrame:
    """Champion-list BM25 (Manning/Raghavan/Schütze IIR §7.1.3) — the
    scale path beside :func:`bm25_topk`'s exact scoring. Exact BM25
    touches EVERY posting of every query term; a corpus-hot term
    ("the", or any term of a degenerate small vocabulary) makes one
    query touch the whole corpus and Q queries touch Q·N rows — the
    measured 17× blow-up at 10× on the synthetic tables, the dense
    analogue of the uncapped LSH band. Champion lists bound it: per
    term keep only the ``champions`` highest-impact postings (tf
    descending — tf saturation makes tf the dominant per-doc factor —
    ties by doc id), score only those. A doc outside every query
    term's champion list can rarely reach the top k when
    ``champions ≫ k``; the pytest pins the SHARP contract — query
    terms with df ≤ P lose no posting, so the result is EXACTLY the
    exact scorer's — plus a recall floor in the hot-term regime, and
    the gate value-hashes the champion result itself (the
    approximation is DEFINED, not fuzzy — the q36/q67 discipline for
    approximate operators).

    Shape at scale: the champion cut is one rank window PER TERM over
    the postings (term-keyed shuffle, k ≪ |postings| rows survive);
    per-query work is then ≤ |query terms| · champions rows no matter
    how hot the term — linear in queries, independent of corpus df.
    """
    postings, doclen, df_tbl, n_avg = _index_frames(corpus, text_col,
                                                    id_col, postings)
    return _score_and_rank(postings, doclen, df_tbl, n_avg,
                           _qterms(queries), k, champions, 4)


RRF_K = 60


def rrf_fuse(lex: DataFrame, sem: DataFrame, k: int = 10,
             rrf_k: int = RRF_K) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic ranking
    (Cormack et al. 2009): ``score = Σ 1/(rrf_k + rank)`` over the
    rankers that retrieved the document. The standard hybrid-retrieval
    combiner — rank-based, so the incomparable BM25 and cosine scales
    never need calibration.

    ``lex``/``sem``: (query_id, doc_id, rank) pools, one row per
    (query, candidate). Full-outer join on (query_id, doc_id) — a
    document found by only one ranker still scores. Output ranks are
    (rrf DESC, doc_id ASC), cut at ``k``; the per-ranker ranks ride
    along with 0 = "absent from that ranker's pool" (kept non-null so
    both engines emit int64 — NULL-int columns decay to float64 in
    pandas on BOTH sides, the q119 dtype-class trap).

    Shape at scale: both pools are already query-bounded (≤ pool
    depth rows per query), so the fusion join and the rank window
    shuffle eval-suite-sized frames — corpus size never appears.
    """
    l = lex.select("query_id", "doc_id", F.col("rank").alias("_lr"))
    s = sem.select("query_id", "doc_id", F.col("rank").alias("_sr"))
    j = l.join(s, ["query_id", "doc_id"], "full_outer")
    contrib = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(),
        rnd(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(c)), 8),
    ).otherwise(F.lit(0.0))
    fused = j.select(
        "query_id", "doc_id",
        rnd(contrib("_lr") + contrib("_sr"), 8).alias("rrf"),
        F.coalesce("_lr", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("_sr", F.lit(0)).cast("long").alias("sem_rank"),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "rrf", "lex_rank",
                "sem_rank")
    )


def mmr_rerank(pool: DataFrame, vecs: DataFrame, k: int = 3,
               lam: float = 0.7) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` documents from each query's candidate
    pool maximizing ``λ·relevance − (1−λ)·max-similarity-to-already-
    selected`` — the diversity-aware context selection a RAG pipeline
    runs on its retrieval pool so the k passages aren't k near-copies
    of the same best hit.

    ``pool``: (query_id, doc_id, rel) — a bounded per-query candidate
    list (the q134 RRF pool). ``vecs``: (doc_id, embedding) for
    similarity. Greedy selection is inherently sequential, but k is
    small and the pool is query-bounded: the plan pre-computes the
    per-query pool×pool cosine matrix ONCE (≤ pool² tiny rows per
    query, never corpus-sized) and unrolls the k selection steps as
    k rank windows — fully declarative, no driver loop over data, and
    every step on the rounded ladder so an oracle replays the exact
    selection.

    Ties at every argmax break by ascending doc_id. Emits
    ``(query_id, step, doc_id, mmr)`` with ``step`` 1-based;
    step 1's penalty term is 0 by definition.
    """
    from .similarity import cosine  # local: avoid module cycle at import

    p = pool.select(
        "query_id", "doc_id",
        F.col("rel").cast("double").alias("rel"),
    )
    v = vecs.select(
        F.col("doc_id").alias("_vid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double"))
        .alias("_e"),
    )
    pv = p.join(v, p["doc_id"] == v["_vid"]).drop("_vid")
    # pool x pool cosine matrix per query (bounded by pool size)
    a = pv.select("query_id", F.col("doc_id").alias("da"),
                  F.col("_e").alias("ea"))
    b = pv.select("query_id", F.col("doc_id").alias("db"),
                  F.col("_e").alias("eb"))
    sims = (
        a.join(b, "query_id")
        .where(F.col("da") != F.col("db"))
        .select(
            "query_id", "da", "db",
            rnd(cosine(F.col("ea"), F.col("eb")), 4).alias("sim"),
        )
    )
    # pool² rows per query — tiny; every selection step's plan consumes
    # it (and its pool⨝vecs parent), so persist once instead of
    # recompiling/re-running the matrix subtree per unrolled step
    from pyspark import StorageLevel

    sims = sims.persist(StorageLevel.MEMORY_AND_DISK)
    lam_c, one_m = F.lit(float(lam)), F.lit(1.0 - lam)
    selected = None
    out_parts = []
    for step in range(1, k + 1):
        if selected is None:
            scored = p.select(
                "query_id", "doc_id",
                rnd(lam_c * F.col("rel"), 8).alias("mmr"),
            )
        else:
            pen = (
                sims.join(
                    selected.select(
                        F.col("query_id").alias("_q"),
                        F.col("doc_id").alias("_sel"),
                    ),
                    (sims["query_id"] == F.col("_q"))
                    & (sims["db"] == F.col("_sel")),
                )
                .groupBy("query_id", F.col("da").alias("doc_id"))
                .agg(F.max("sim").alias("_pen"))
            )
            remaining = p.join(
                selected.select("query_id", "doc_id"),
                ["query_id", "doc_id"], "left_anti",
            )
            scored = (
                remaining.join(pen, ["query_id", "doc_id"], "left")
                .select(
                    "query_id", "doc_id",
                    rnd(
                        lam_c * F.col("rel")
                        - one_m * F.coalesce("_pen", F.lit(0.0)),
                        8,
                    ).alias("mmr"),
                )
            )
        w = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("doc_id").asc()
        )
        # localCheckpoint per selection step (VERDICT r10 directive
        # #4, the q158 rank-frame pattern): step s+1's penalty join
        # and the final union otherwise re-nest every earlier step's
        # window subtree — plan depth (and its Catalyst/codegen cost)
        # grew quadratically in k. The pick frame is ≤|queries| rows;
        # values unchanged.
        pick = (
            scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("query_id", "doc_id", "mmr")
            .withColumn("step", F.lit(step).cast("long"))
        ).localCheckpoint(eager=True)
        out_parts.append(pick)
        selected = (
            pick.select("query_id", "doc_id") if selected is None
            else selected.select("query_id", "doc_id").unionByName(
                pick.select("query_id", "doc_id")
            )
        )
    out = out_parts[0]
    for part in out_parts[1:]:
        out = out.unionByName(part)
    res = out.select("query_id", "step", "doc_id", "mmr")
    res._cached_inputs = [sims]  # see functions.dedup.release
    return res


def ndcg_discounts(k: int) -> list[float]:
    """Per-rank DCG discounts 1/log2(rank+1) for ranks 1..k, computed
    ONCE in Python and embedded as literals in both engines — so no
    cross-engine log() ulp can ever touch the value-hash contract."""
    import math

    return [round(1.0 / math.log2(i + 1), 12) for i in range(1, k + 1)]


def ndcg_audit(approx: DataFrame, exact: DataFrame,
               k: int) -> DataFrame:
    """Approximation-quality audit for a top-k retrieval scale path:
    per-query nDCG@k of the ``approx`` ranking against the ``exact``
    ranking as ground truth (graded gain k−rank+1 for the exact top-k,
    0 otherwise) — the retrieval twin of q142's IVF recall audit, and
    the number a curator checks before switching the 100 TB pipeline
    from exact scoring to the champion-list path.

    Both inputs are (query_id, rank, doc_id) frames. Discounts are
    Python-literal per-rank constants (:func:`ndcg_discounts`);
    contributions ride the 8-digit rnd ladder and ndcg divides two
    ROUNDED sums, so operands are engine-identical bit patterns.
    Queries where the exact side returned fewer than k rows get the
    correspondingly smaller IDCG — ndcg stays in [0, 1] by
    construction.

    Shape at scale: both inputs are |queries|·k rows (the ranked
    RESULTS, not the corpus); one equi-join on (query_id, doc_id) and
    two query-keyed aggs. Cost is independent of corpus size.
    """
    disc = F.array(*[F.lit(d) for d in ndcg_discounts(k)])
    # fully renamed so approx == exact (a self-join lineage) is legal
    gains = exact.select(
        F.col("query_id").alias("_gq"),
        F.col("doc_id").alias("_gd"),
        (F.lit(int(k)) - F.col("rank") + 1).cast("double").alias("_gain"),
    )
    idcg = (
        exact.select(
            "query_id",
            rnd(
                (F.lit(int(k)) - F.col("rank") + 1).cast("double")
                * F.element_at(disc, F.col("rank").cast("int")),
                8,
            ).alias("_ic"),
        )
        .groupBy("query_id")
        .agg(rnd(F.sum("_ic"), 6).alias("idcg"))
    )
    dcg = (
        approx.join(
            gains,
            (F.col("query_id") == F.col("_gq"))
            & (F.col("doc_id") == F.col("_gd")),
            "left",
        )
        .select(
            "query_id",
            rnd(
                F.coalesce(F.col("_gain"), F.lit(0.0))
                * F.element_at(disc, F.col("rank").cast("int")),
                8,
            ).alias("_c"),
            F.when(F.col("_gain").isNotNull(), F.lit(1))
             .otherwise(F.lit(0)).alias("_hit"),
        )
        .groupBy("query_id")
        .agg(
            rnd(F.sum("_c"), 6).alias("dcg"),
            F.sum("_hit").cast("long").alias("n_hits"),
        )
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "n_hits",
        "dcg",
        "idcg",
        rnd(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
             .otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg"),
    )


def rm3_expansion(corpus: DataFrame, queries: DataFrame, text_col: str,
                  id_col: str, k: int = 5, m: int = 5,
                  postings: DataFrame | None = None) -> DataFrame:
    """RM3 pseudo-relevance-feedback query expansion (Lavrenko &
    Croft 2001 relevance models; Abdul-Jaleel et al. 2004 RM3): the
    top-``k`` BM25 documents per query act as implicit relevance
    feedback — each feedback doc votes for its terms with weight
    ``P(w|d) · w_d`` where ``w_d`` is the doc's score share of the
    feedback set — and the top-``m`` candidate terms NOT already in
    the query come back as expansion terms. This is the standard
    recall lever of sparse retrieval, and in a curation pipeline the
    "what ELSE does the corpus call this benchmark topic?" probe that
    widens a q62-style decontamination sweep beyond literal overlap.

    Cross-engine: score shares, ``tf/dl`` term likelihoods and their
    products all pre-round at 8 digits; the final per-(query, term)
    sum rounds at 6 digits; the top-m cut ranks (weight DESC,
    term ASC).

    Shape at scale: the feedback frame is |queries|·k rows (broadcast
    side); it joins the postings of ONLY those docs — one doc-keyed
    equi-join against the inverted index, one (query, term) agg, one
    query-keyed rank window. The corpus is touched exactly as often
    as plain BM25.
    """
    topk = bm25_topk(corpus, queries, text_col, id_col, k=k,
                     round_to=4, postings=postings)
    postings, doclen, _, _ = _index_frames(corpus, text_col, id_col,
                                           postings)
    wsum = Window.partitionBy("query_id")
    fb = topk.select(
        "query_id",
        F.col("doc_id").alias("doc"),
        rnd(F.col("score") / F.sum("score").over(wsum), 8).alias("_wd"),
    )
    pl = postings.join(doclen, "doc").select(
        "doc", "w", rnd(F.col("tf") / F.col("dl"), 8).alias("_pwd")
    )
    contrib = pl.join(F.broadcast(fb), "doc").select(
        "query_id", "w",
        rnd(F.col("_wd") * F.col("_pwd"), 8).alias("_c"),
    )
    rm = contrib.groupBy("query_id", "w").agg(
        rnd(F.sum("_c"), 6).alias("rm_weight")
    )
    qt = _qterms(queries).select(
        F.col("qid").alias("query_id"), "w"
    )
    cand = rm.join(qt, ["query_id", "w"], "left_anti")
    rk = Window.partitionBy("query_id").orderBy(
        F.col("rm_weight").desc(), F.col("w").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= m)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("w").alias("term"),
            "rm_weight",
        )
    )


QL_MU = 300.0


def ql_topk(corpus: DataFrame, queries: DataFrame, text_col: str,
            id_col: str,
            k: int = 10, champions: int | None = None,
            postings: DataFrame | None = None) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft
    1998's LM approach with Zhai & Lafferty 2001's Dirichlet prior) —
    the second classical lexical ranking model beside BM25 (q124):
    rank documents by ``log p(q|d)`` under each document's smoothed
    unigram LM, ``p(w|d) = (tf + μ·p(w|C)) / (dl + μ)``.

    Scored via the standard postings-friendly decomposition: for the
    matched terms ``Σ qtf·log(1 + tf·|C| / (μ·cf))``, plus a
    doc-length normalizer ``nq·log(μ / (dl + μ))`` and a per-query
    constant ``Σ qtf·log(cf / |C|)`` (kept, so the score IS the true
    log-likelihood over in-vocabulary terms, comparable across docs
    AND queries). Query terms absent from the corpus vocabulary are
    dropped (they would zero the likelihood; documented contract).
    Candidate docs = those sharing ≥1 term, the standard top-k
    practice — a doc matching nothing ranks below every candidate by
    construction.

    Determinism: per-term logs pre-round at 8, the assembled score at
    4 digits; rank ties break on doc id. Shape at scale: the
    q124 shape exactly — postings ⨝ broadcast query model ⨝ doc
    lengths → per-(q, doc) combinable agg → per-query rank window cut
    at k. cf/|C| are one term-keyed agg + one scalar agg over the
    SAME postings frame the index already has.
    """
    postings, doclen, _df_tbl, _ = _index_frames(corpus, text_col,
                                                 id_col, postings)
    cf = postings.groupBy("w").agg(F.sum("tf").alias("cf"))
    ctot = doclen.agg(F.sum("dl").alias("ct"))
    qtf = (
        fan_out(queries)
        .select(
            F.col("query_id").alias("qid"),
            F.explode(
                F.split(F.lower(F.trim(F.col("query"))), r"\s+")
            ).alias("w"),
        )
        .groupBy("qid", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("qtf"))
    )
    # query-side model: in-vocabulary terms with their collection
    # stats — |queries|·|terms| rows, broadcast everywhere below
    qv = qtf.join(cf, "w").crossJoin(F.broadcast(ctot))
    qmodel = qv.select(
        "qid", "w", "qtf", "cf",
        rnd(F.log(F.col("cf") / F.col("ct")), 8).alias("lp_bg"),
    )
    qagg = qmodel.groupBy("qid").agg(
        F.sum("qtf").alias("nq"),
        rnd(F.sum(F.col("qtf") * F.col("lp_bg")), 6).alias("cq"),
    )
    # champion cut (IIR §7.1.3, the q131 pattern): the matched-term
    # contribution log(1 + tf·|C|/(μ·cf)) is increasing in tf, so the
    # per-term highest-impact postings are exactly the top-tf ones.
    # The MODEL (cf, |C|, dl) stays exact — only the scoring postings
    # are cut, bounding per-query work at |terms|·champions.
    src_postings = postings
    if champions is not None:
        champ_win = Window.partitionBy("w").orderBy(
            F.col("tf").desc(), F.col("doc").asc()
        )
        src_postings = (
            postings.withColumn("_r", F.row_number().over(champ_win))
            .where(F.col("_r") <= int(champions))
            .drop("_r")
        )
    matched = (
        src_postings.join(F.broadcast(qmodel.select("qid", "w", "qtf", "cf")), "w")
        .crossJoin(F.broadcast(ctot))
        .select(
            "qid", "doc",
            (
                F.col("qtf")
                * rnd(
                    F.log(
                        F.lit(1.0)
                        + F.col("tf") * F.col("ct") / (F.lit(QL_MU) * F.col("cf"))
                    ),
                    8,
                )
            ).alias("contrib"),
        )
        .groupBy("qid", "doc")
        .agg(
            rnd(F.sum("contrib"), 6).alias("msum"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    scored = (
        matched.join(doclen, "doc")
        .join(F.broadcast(qagg), "qid")
        .select(
            "qid", "doc", "n_terms_hit",
            rnd(
                F.col("msum")
                + F.col("nq")
                * rnd(F.log(F.lit(QL_MU) / (F.col("dl") + F.lit(QL_MU))), 8)
                + F.col("cq"),
                4,
            ).alias("score"),
        )
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("doc").alias("doc_id"),
            "score",
            "n_terms_hit",
        )
    )
