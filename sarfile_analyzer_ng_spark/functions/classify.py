"""Pseudo-labeled quality classification — distributed logistic
regression over the quality-feature columns.

The production pattern (GPT-3's quality filter, CCNet's fasttext
gate): label a slice of the corpus by PROVENANCE (curated reference
domains = positive, raw crawl = negative), train a cheap linear
classifier on per-document features, then score every document and
keep/downsample by predicted quality. No reference-engine twin exists
(the sar reference has no ML surface); the design follows the repo's
iterative-operator contract (kmeans_lloyd_exact, bpe_train):

- the MODEL is bounded driver state (one weight per feature — here 5
  floats), broadcast into each pass as literals;
- each iteration is ONE whole-corpus aggregation (full-batch gradient:
  ``g_j = Σ (σ(w·x) − y)·x_j / n``), so k iterations cost k linear
  scans and k tiny driver round-trips — nothing per-row ever collects;
- every cross-engine-visible number goes through the ``rnd`` ladder:
  per-row margins and sigmoids pre-round at 8 digits (collapsing JVM
  vs DuckDB ``exp`` ulp skew), gradients and weight updates round at 6
  — so the DuckDB oracle replays training bit-for-bit with an
  unrolled CTE chain (one gradient CTE + one weight CTE per
  iteration; see queries.SQL_Q104).

At 100 TB: the gradient agg is a map-side-combinable sum keyed by
nothing (partial aggregation does all the work); feature extraction
is the quality_score codegen map stage. Wall per iteration ≈ one
corpus scan; 4 iterations of a 5-feature model is the whole training
budget — the classifier is deliberately in the cheap-filter class,
not an LLM judge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import rnd, rnd_np


def quality_features(docs: DataFrame, text_col: str, id_col: str,
                     source_col: str,
                     pos_sources: tuple[str, ...]) -> DataFrame:
    """Labeled quality features — THE single definition shared by the
    oracled q104 registry query, its SQL twin (queries.SQL_Q104 writes
    the same arithmetic), and the classify CLI, so the feature scaling
    cannot drift between surfaces. Positive label = curated provenance
    (``pos_sources``); features ride the rnd ladder (6 digits) so
    training replays cross-engine."""
    from .text import quality_score

    qs = quality_score(docs.select(id_col, source_col, text_col), text_col)
    return qs.select(
        id_col,
        source_col,
        F.when(F.col(source_col).isin(*pos_sources), 1)
        .otherwise(0).alias("label"),
        rnd(F.least(F.col("n_words"), F.lit(400)).cast("double")
            / F.lit(400.0), 6).alias("x1"),
        rnd(F.col("mean_word_len") / F.lit(10.0), 6).alias("x2"),
        F.col("punct_ratio").alias("x3"),
        F.col("stopword_ratio").alias("x4"),
    )


def logreg_margin(xs: list[Column], weights: list[float]) -> Column:
    """``rnd(w·x, 8)`` with the dot product evaluated strictly
    left-to-right — the summand order is part of the cross-engine
    contract (the oracle writes the same literal order)."""
    z: Column = F.lit(0.0)
    for w_j, x_j in zip(weights, xs):
        z = z + F.lit(w_j) * x_j
    return rnd(z, 8)


def logreg_sigmoid(z: Column) -> Column:
    return rnd(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 8)


def logreg_train(df: DataFrame, feature_cols: list[str], label_col: str,
                 iters: int = 4, lr: float = 0.5) -> list[float]:
    """Full-batch gradient descent from ``w = 0``; returns the weight
    vector ``[bias, w_1, ...]`` after exactly ``iters`` updates (fixed
    iteration count, not convergence — determinism is the contract,
    like ``kmeans_lloyd_exact``'s fixed Lloyd rounds)."""
    n = df.count()
    if n == 0:
        raise ValueError("logreg_train: empty training frame")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    w = [0.0] * len(xs)
    # loop-INVARIANT Column trees built once (r13): the x aliases and
    # the gradient agg columns reference the projected names, not the
    # weights — rebuilding them every iteration was pure py4j round-trip
    # latency (the dominant per-iteration cost at bench scale). Only
    # the residual (weight literals) rebuilds.
    x_aliases = [x_j.alias(f"_x{j}") for j, x_j in enumerate(xs)]
    grad_cols = [
        rnd(F.sum(F.col("_r") * F.col(f"_x{j}")) / F.lit(float(n)),
            6)
        .alias(f"g{j}")
        for j in range(len(xs))
    ]
    for _ in range(iters):
        # project the sigmoid residual ONCE per row (the softmax_train
        # fix applied to the binary chain): inlining it into every
        # gradient column re-evaluated the exp per column. Same
        # doubles, same summation order — value-identical.
        resid = logreg_sigmoid(logreg_margin(xs, w)) - y
        proj = df.select(resid.alias("_r"), *x_aliases)
        grads = proj.agg(*grad_cols).first()
        # rnd_np expects an array (its half-boundary repair indexes)
        w = [
            float(rnd_np([w_j - lr * float(grads[f"g{j}"])], 6)[0])
            for j, w_j in enumerate(w)
        ]
    return w


def logreg_score(df: DataFrame, feature_cols: list[str],
                 weights: list[float]) -> DataFrame:
    """Score every row with a trained weight vector: ``p = σ(w·x)``
    (rounded for the verdict) plus the 0.5-threshold class. One
    codegen map stage, model as literals — no join, no shuffle."""
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    p = logreg_sigmoid(logreg_margin(xs, weights))
    return df.withColumns(
        {
            "p_good": rnd(p, 4),
            "pred": (rnd(p, 4) >= 0.5).cast("int"),
        }
    )


def calibration_report(scored: DataFrame, bins: int = 10) -> DataFrame:
    """Classifier reliability table — the check a curator runs BEFORE
    trusting a quality classifier's threshold (Guo et al. 2017, "On
    Calibration of Modern Neural Networks", here for the logreg
    filter): bucket documents by predicted probability and compare
    each bucket's mean prediction against its observed label rate.
    A well-calibrated filter has gap ≈ 0 everywhere; a bucket where
    predictions say 0.8 but only 0.5 of documents are actually good
    means the keep-threshold silently admits junk.

    Returns ``(bin, n, mean_p, frac_good, gap)``. Bins are fixed-width
    over the OBSERVED score range (min/max from one exact
    map-combinable agg, broadcast back; bin = floor((p−min)/span·bins)
    clipped) — a shallow model's scores can occupy a narrow band
    (measured 0.007 wide on the gate corpus), where absolute-[0,1]
    bins collapse the whole report into one row. Range-adaptive bins
    keep the table informative at any score spread while staying
    embarrassingly parallel AND oracle-replayable (min/max are exact
    passthrough values; both engines floor identical doubles). No
    ntile, no global sort — two linear passes."""
    ext = scored.agg(
        F.min(F.col("p_good")).alias("_pmin"),
        F.max(F.col("p_good")).alias("_pmax"),
    )
    span = F.col("_pmax") - F.col("_pmin")
    b = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("p_good") - F.col("_pmin")) / span * bins),
            F.lit(bins - 1),
        )
    ).cast("long")
    return (
        scored.crossJoin(F.broadcast(ext))
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            rnd(F.avg("p_good"), 4).alias("mean_p"),
            rnd(F.avg(F.col("label").cast("double")), 4)
            .alias("frac_good"),
        )
        .withColumn(
            "gap", rnd(F.col("mean_p") - F.col("frac_good"), 4)
        )
    )


def hashed_gram_features(docs: DataFrame, text_col: str, id_col: str,
                         source_col: str, pos_sources: tuple[str, ...],
                         buckets: int = 8) -> DataFrame:
    """fastText-style hashed bag-of-ngrams features (Joulin et al.
    2017, "Bag of Tricks for Efficient Text Classification"): unigrams
    AND word bigrams hashed into ``buckets`` feature buckets, per-doc
    normalized counts as the feature vector — the content-based
    complement of :func:`quality_features`' shape statistics (THOSE
    say "does this look like prose?"; these say "does this use the
    vocabulary of the curated slice?"). Feeding the same oracled
    :func:`logreg_train` chain keeps the whole classifier replayable
    cross-engine.

    The hash is the dedup family's portable fingerprint (first 8 md5
    hex digits as a non-negative int) mod ``buckets`` — engine-
    reproducible, unlike murmur3/xxhash built-ins. ``buckets`` is
    deliberately small: each extra bucket adds one weight CTE column
    to the oracle unroll; at production scale you'd raise it to 2^20
    and skip the oracle, nothing else changes.

    Shape at scale: gram explode → ONE doc-keyed agg (the bucket
    pivot is B conditional sums inside that agg — no pivot shuffle,
    no join); features are O(B) per doc. Fully codegen, no Python.
    """
    agg = _hashed_gram_agg(docs, text_col, id_col, source_col, buckets)
    return agg.select(
        F.col("doc").alias(id_col),
        F.col("_carry").alias(source_col),
        F.when(F.col("_carry").isin(*pos_sources), 1).otherwise(0)
        .alias("label"),
        *[
            rnd(F.col(f"c{j}") / F.col("total"), 6).alias(f"x{j}")
            for j in range(buckets)
        ],
    )


def _hashed_gram_agg(docs: DataFrame, text_col: str, id_col: str,
                     carry_col: str, buckets: int) -> DataFrame:
    """The shared hashed-gram core (unigrams + word bigrams → portable
    md5 bucket → per-doc bucket counts): (doc, _carry, total,
    c0..c{B-1}) — one explode, one doc-keyed agg, fully codegen."""
    from ..util import fan_out

    # map-side gram build (r12, guide §2.4): unigrams are the token
    # array itself, bigrams come from zip_with against the shifted
    # tail — no posexplode → window-lead chain, which shuffled and
    # sorted EVERY token by doc id just to pair neighbors. Same gram
    # multiset (pytest-pinned), one less Exchange+Sort per pipeline.
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tail = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(arr, tail, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    grams = fan_out(docs).select(
        F.col(id_col).alias("doc"),
        F.col(carry_col).alias("_carry"),
        F.explode(F.concat(arr, bigrams)).alias("g"),
    )
    fp = F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
    bucketed = grams.select(
        "doc", "_carry", F.pmod(fp, F.lit(buckets)).alias("b")
    )
    return bucketed.groupBy("doc", "_carry").agg(
        F.count(F.lit(1)).cast("double").alias("total"),
        *[
            F.sum(F.when(F.col("b") == j, 1).otherwise(0))
            .cast("double").alias(f"c{j}")
            for j in range(buckets)
        ],
    )


def hashed_gram_features_labeled(docs: DataFrame, text_col: str,
                                 id_col: str, label_col: str,
                                 buckets: int = 8) -> DataFrame:
    """:func:`hashed_gram_features` with a caller-supplied INTEGER
    class label (multi-class: langid, domain routing) instead of the
    binary provenance rule — the feature map :func:`softmax_train`
    consumes. Same portable hash, same rnd ladder."""
    agg = _hashed_gram_agg(docs, text_col, id_col, label_col, buckets)
    return agg.select(
        F.col("doc").alias(id_col),
        F.col("_carry").cast("int").alias("label"),
        *[
            rnd(F.col(f"c{j}") / F.col("total"), 6).alias(f"x{j}")
            for j in range(buckets)
        ],
    )


def auc_score(scored: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """ROC-AUC as the Mann–Whitney rank statistic with average ranks
    for ties — the one-number discrimination audit of a quality
    classifier ("does p_good actually order good above bad?"),
    complementing the calibration report's honesty check.

    ``AUC = (Σ_{pos} rank − n_pos(n_pos+1)/2) / (n_pos · n_neg)``
    where tied scores share their tie group's AVERAGE rank (the
    correction that keeps AUC = 0.5 for a constant classifier).

    Scalable by construction: scores arrive ROUNDED (the oracle
    ladder), so ranking happens on the DISTINCT-score frame — counts
    per score, a cumulative "how many strictly below" over that
    model-sized frame, average rank = below + (n+1)/2 — and the
    corpus itself never sorts. Returns one row (n_pos, n_neg, auc);
    degenerate single-class inputs return NULL auc rather than a
    fabricated number.

    Precision note: the rank sum is integer/half-integer arithmetic,
    exact in doubles up to 2^52 ≈ 4.5e15 — comfortably past 10⁷
    positives over a 10⁸-row corpus. Beyond that, split the corpus
    by hash, AUC per split, and average (AUC is a U-statistic — the
    split mean is unbiased).
    """
    from pyspark.sql import Window

    from ..util import rnd

    vals = scored.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("_np"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.withColumn(
        "_below", F.coalesce(F.sum("_n").over(w), F.lit(0))
    )
    tot = ranked.agg(
        F.sum("_np").cast("double").alias("np"),
        (F.sum("_n") - F.sum("_np")).cast("double").alias("nn"),
        rnd(
            F.sum(
                F.col("_np")
                * (F.col("_below") + (F.col("_n") + 1) / F.lit(2.0))
            ),
            6,
        ).alias("_rsum"),
    )
    return tot.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.when(
            (F.col("np") > 0) & (F.col("nn") > 0),
            rnd(
                (F.col("_rsum") - F.col("np") * (F.col("np") + 1) / F.lit(2.0))
                / (F.col("np") * F.col("nn")),
                6,
            ),
        ).alias("auc"),
    )


def kappa_agreement(a: DataFrame, b: DataFrame, id_col: str,
                    a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa between two binary verdict frames (Cohen 1960):
    chance-corrected agreement ``κ = (p_o − p_e)/(1 − p_e)`` — the
    audit that answers "do my rule-based and learned quality filters
    agree BEYOND the agreement their keep rates alone would produce?"
    (two filters that each keep 95 % agree 90.5 % by pure chance).

    One doc-keyed equi-join + a single 4-cell contingency aggregate;
    the probabilities ride the rnd ladder, κ is one division of
    rounded operands, and a degenerate pe = 1 (both verdicts
    constant) returns NULL instead of 0/0.
    """
    from ..util import rnd

    j = a.select(F.col(id_col), F.col(a_col).cast("long").alias("_x")) \
         .join(b.select(F.col(id_col), F.col(b_col).cast("long")
                        .alias("_y")), id_col)
    c = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when((F.col("_x") == 1) & (F.col("_y") == 1), 1)
               .otherwise(0)).cast("double").alias("n11"),
        F.sum(F.when((F.col("_x") == 1) & (F.col("_y") == 0), 1)
               .otherwise(0)).cast("double").alias("n10"),
        F.sum(F.when((F.col("_x") == 0) & (F.col("_y") == 1), 1)
               .otherwise(0)).cast("double").alias("n01"),
        F.sum(F.when((F.col("_x") == 0) & (F.col("_y") == 0), 1)
               .otherwise(0)).cast("double").alias("n00"),
    )
    po = rnd((F.col("n11") + F.col("n00")) / F.col("n"), 8)
    pe = rnd(
        ((F.col("n11") + F.col("n10")) / F.col("n"))
        * ((F.col("n11") + F.col("n01")) / F.col("n"))
        + ((F.col("n01") + F.col("n00")) / F.col("n"))
        * ((F.col("n10") + F.col("n00")) / F.col("n")),
        8,
    )
    return c.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n11").cast("long").alias("both_keep"),
        F.col("n00").cast("long").alias("both_drop"),
        F.col("n10").cast("long").alias("only_rules"),
        F.col("n01").cast("long").alias("only_classifier"),
        rnd(po, 6).alias("observed_agreement"),
        F.when(pe < 1.0, rnd((po - pe) / (F.lit(1.0) - pe), 6))
         .alias("kappa"),
    )


def threshold_sweep(scored: DataFrame, p_col: str = "p_good",
                    label_col: str = "label",
                    taus: tuple[float, ...] = tuple(
                        round(t * 0.05, 2) for t in range(1, 20))
                    ) -> DataFrame:
    """Operating-point table for a score-vs-label classifier: for each
    decision threshold τ, the confusion counts and precision / recall
    / F1. This is the table a curator actually PICKS the filter
    threshold from — q161's AUC says "the ranking discriminates",
    q120's calibration says "the probabilities are honest"; this says
    "at τ=0.6 you keep 84% of good docs and let 3% of bad ones
    through" (the FineWeb-Edu-style threshold-selection step).

    Thresholds are exact 2-digit literals and scores arrive already
    rounded (4 digits upstream), so ``p ≥ τ`` can never straddle an
    ulp across engines. P/R/F1 divide BIGINT counts and round at
    6 digits; F1 is computed from the two already-rounded ratios
    (the q84 derived-value contract). Empty cells yield NULL via
    nullif, identically on both sides.

    Shape at scale: ONE pass — each row contributes to every τ via a
    |taus|-literal explode (row amplification |taus|×, on a 2-column
    frame), then a |taus|-group combinable agg. No window, no join,
    no Python.
    """
    t = F.explode(
        F.array(*[F.lit(float(x)) for x in taus])
    ).alias("tau")
    j = scored.select(
        F.col(label_col).cast("long").alias("y"),
        F.col(p_col).alias("p"),
        t,
    )
    pos = (F.col("p") >= F.col("tau")).cast("long")
    agg = j.groupBy("tau").agg(
        F.sum(pos * F.col("y")).alias("tp"),
        F.sum(pos * (1 - F.col("y"))).alias("fp"),
        F.sum((1 - pos) * F.col("y")).alias("fn"),
        F.sum((1 - pos) * (1 - F.col("y"))).alias("tn"),
    )
    prec = rnd(F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
               6)
    rec = rnd(F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
              6)
    out = agg.select(
        "tau", "tp", "fp", "fn", "tn",
        prec.alias("precision"), rec.alias("recall"),
    )
    f1 = rnd(
        2 * F.col("precision") * F.col("recall")
        / F.nullif(F.col("precision") + F.col("recall"), F.lit(0.0)),
        6,
    )
    return out.select(
        "tau", "tp", "fp", "fn", "tn", "precision", "recall",
        f1.alias("f1"),
    )


def softmax_probs(xs: list[Column], W: list[list[float]]) -> list[Column]:
    """Per-class softmax probabilities ``p_k = exp(z_k) / Σ exp(z_j)``
    with each margin z_k pre-rounded at 8 digits (the q104
    sigmoid contract generalized: identical rounded doubles enter
    both engines' exp, and the quotient re-rounds at 8 digits,
    collapsing JVM-vs-DuckDB exp ulp skew)."""
    es = [F.exp(logreg_margin(xs, w_k)) for w_k in W]
    denom: Column = es[0]
    for e in es[1:]:
        denom = denom + e
    return [rnd(e / denom, 8) for e in es]


def softmax_train(df: DataFrame, feature_cols: list[str], label_col: str,
                  n_classes: int, iters: int = 3,
                  lr: float = 0.5) -> list[list[float]]:
    """Multinomial logistic regression (softmax) by full-batch
    gradient descent from ``W = 0`` — :func:`logreg_train`
    generalized to K one-vs-all-coupled heads (Bishop PRML §4.3.4:
    ``∂L/∂w_kj = Σ (p_k − 1[y=k])·x_j / n``). K·(F+1) weights of
    bounded driver state; each iteration is ONE corpus scan whose
    agg carries every class's gradient column at once (map-side
    combinable, keyed by nothing), so k iterations = k linear scans
    regardless of K. Deterministic by the same rnd ladder as the
    binary chain, so the full training replays as an unrolled SQL
    CTE chain (queries.SQL_Q204)."""
    n = df.count()
    if n == 0:
        raise ValueError("softmax_train: empty training frame")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("int")
    W = [[0.0] * len(xs) for _ in range(n_classes)]
    # loop-INVARIANT Column trees built once (r13): the y/x aliases
    # and the K·(F+1) gradient agg columns reference projected NAMES,
    # not the weights — rebuilding them every iteration was ~0.6 s of
    # py4j round-trip latency per iteration at bench scale (measured
    # vs ~0.2 s for the agg job itself). Only the K probability
    # projections (weight literals) rebuild per iteration.
    y_alias = y.alias("_y")
    x_aliases = [x_j.alias(f"_x{j}") for j, x_j in enumerate(xs)]
    aggs = []
    for k in range(n_classes):
        resid = F.col(f"_p{k}") - F.when(
            F.col("_y") == k, F.lit(1.0)).otherwise(F.lit(0.0))
        aggs.extend(
            rnd(F.sum(resid * F.col(f"_x{j}")) / F.lit(float(n)),
                6).alias(f"g{k}_{j}")
            for j in range(len(xs))
        )
    for _ in range(iters):
        ps = softmax_probs(xs, W)
        # project each class's probability ONCE per row, then
        # aggregate plain products: inlining ps[k] into every one of
        # the K·(F+1) gradient columns made the agg re-evaluate the
        # full K-exp softmax per column (measured ~1.8 s/iteration of
        # pure expression eval + codegen at 5k rows). Same doubles,
        # same summation order — value-identical by construction.
        proj = df.select(
            y_alias,
            *x_aliases,
            *[p_k.alias(f"_p{k}") for k, p_k in enumerate(ps)],
        )
        g = proj.agg(*aggs).first()
        W = [
            [
                float(rnd_np([W[k][j] - lr * float(g[f"g{k}_{j}"])],
                             6)[0])
                for j in range(len(xs))
            ]
            for k in range(n_classes)
        ]
    return W


def softmax_score(df: DataFrame, feature_cols: list[str],
                  W: list[list[float]]) -> DataFrame:
    """Score every row with a trained weight matrix: per-class
    probabilities (rounded for the verdict) and ``pred`` = argmax
    with FIRST-class tie-break (argmax runs over the 8-digit-
    rounded probabilities both engines share, so ties break
    identically). One codegen map stage, model as literals."""
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    # stage the exp terms and their sum as projected columns (the
    # softmax_train fix): building every p_k and the argmax array from
    # inlined softmax_probs re-evaluated the K-exp chain K² times per
    # row. Same doubles, same rounding — value-identical.
    es = [F.exp(logreg_margin(xs, w_k)) for w_k in W]
    staged = df.withColumns({f"_e{k}": e for k, e in enumerate(es)})
    denom: Column = F.col("_e0")
    for k in range(1, len(W)):
        denom = denom + F.col(f"_e{k}")
    staged = staged.withColumn("_ed", denom)
    ps = [rnd(F.col(f"_e{k}") / F.col("_ed"), 8)
          for k in range(len(W))]
    arr = F.array(*ps)
    pred = (F.array_position(arr, F.array_max(arr)) - 1).cast("int")
    return staged.withColumns(
        {
            **{f"p{k}": rnd(p, 4) for k, p in enumerate(ps)},
            "pred": pred,
        }
    ).drop(*[f"_e{k}" for k in range(len(W))], "_ed")


def standardize_features(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Per-feature z-scoring with oracle-replayable stats — the
    preconditioning that lets full-batch GD converge in a handful of
    scans (raw hashed-gram frequencies are tiny and offset-dominated;
    softmax from W=0 then crawls toward the majority class — measured
    0.39 → 0.99 accuracy on the q204 gate corpus at 3 iterations):
    ``mean = rnd(avg x, 6)``, ``sd = rnd(sqrt(max(avg(x²) − mean², 0)),
    6)`` (0 → 1 for constant features), ``z = rnd((x − mean)/sd, 6)``.
    ONE map-combinable corpus agg; the 2·F stat columns come back as a
    broadcast 1-row frame (no collect, no shuffle beyond the agg)."""
    aggs = []
    for c in feature_cols:
        aggs.append(rnd(F.avg(F.col(c)), 6).alias(f"_m_{c}"))
        aggs.append(
            rnd(F.avg(F.col(c) * F.col(c)), 6).alias(f"_q_{c}"))
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    newcols = {}
    for c in feature_cols:
        m, q = F.col(f"_m_{c}"), F.col(f"_q_{c}")
        sd = rnd(F.sqrt(F.greatest(q - m * m, F.lit(0.0))), 6)
        sd = F.when(sd == 0.0, F.lit(1.0)).otherwise(sd)
        newcols[c] = rnd((F.col(c) - m) / sd, 6)
    drop = [f"_m_{c}" for c in feature_cols] + \
        [f"_q_{c}" for c in feature_cols]
    return out.withColumns(newcols).drop(*drop)
