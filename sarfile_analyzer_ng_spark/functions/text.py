"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

Everything is JVM-side (`regexp_count`, `md5`, `length`, …) — no
Python in the row path, so these run inside whole-stage codegen and
survive a 100 TB corpus. Regexes are kept to constructs with identical
semantics in Java regex (Spark) and RE2 (DuckDB oracle): character
classes, alternation, ``\\b`` word boundaries — no lookaround.

Counting rules (Spark rewrites ``regexp_count`` to
``size(regexp_extract_all(...))``, which allocates one string per
match):

- Project a count once, in its own ``withColumns``, before deriving
  ratios from it. Subexpression elimination only shares expressions
  that are always evaluated, so a count inlined into ``CASE WHEN``
  branches runs once per reference.
- Count a single-character class as a length difference —
  ``length(t) - length(translate(t, chars, ''))`` or
  ``length(regexp_replace(t, '[complement]+', ''))`` — not as
  ``regexp_count`` of one character, which builds a string per hit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import fan_out, memo_cols, rnd, shard_hash, worker_task

# Stopword alternations per language; the heuristic scores a document
# by word-boundary stopword hits and takes the argmax with a fixed
# deterministic tie order (en > de > es > fr > zh).
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|und|das|ist|nicht|ein|eine|mit|von)\b",
    "es": r"\b(el|la|de|que|y|los|una|por|con|para)\b",
    "fr": r"\b(le|la|les|et|des|une|est|dans|pour|qui)\b",
    "zh": r"[一-鿿]",
}

# "BPE-ish" pre-tokenizer: letter runs, single digits, or single
# non-alphanumeric marks — a coarse stand-in for byte-pair merge input.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

WS_TOKEN_PATTERN = r"\S+"
# Punctuation is [^A-Za-z0-9\s]; deleting these runs leaves exactly its
# code points, so its count is a length.
NON_PUNCT_RUNS = r"[A-Za-z0-9\s]+"
# Java regex \s (no UNICODE_CHARACTER_CLASS): NBSP and U+3000 are not in it.
JAVA_WHITESPACE = " \t\n\x0B\f\r"


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    return {lang: F.regexp_count(low, F.lit(pat)) for lang, pat in LANG_PATTERNS.items()}


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Predict language by stopword-hit argmax, deterministic tie order."""
    df = fan_out(df)  # regexp-bound map stage: parallelism = scan splits

    def build():
        s = lang_scores(F.col(text_col))
        return (
            F.when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]), "en")
            .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
            .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
            .when(s["fr"] >= s["zh"], "fr")
            .otherwise("zh")
        )

    pred = memo_cols(("lang_id", text_col), build)
    return df.withColumn("pred_lang", pred)


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count per document."""
    df = fan_out(df)  # regexp-bound map stage
    t = F.col(text_col)
    return df.withColumn(
        "n_ws_tokens", F.regexp_count(t, F.lit(WS_TOKEN_PATTERN)).cast("long")
    ).withColumn(
        "n_bpe_tokens", F.regexp_count(t, F.lit(BPE_ISH_PATTERN)).cast("long")
    )


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Deterministic quality features + a composite score.

    Features: length, word count, mean word length, punctuation ratio,
    stopword ratio (a fluency proxy). Score formula is arbitrary but
    fixed; the operator's value is the feature plumbing at scale.
    """
    df = fan_out(df)  # regexp-bound map stage

    def build():
        t = F.col(text_col)
        length = F.length(t)
        # raw counts, projected once (module docstring: counting rules)
        counts = {
            "_qs_chars": length,
            "_qs_words": F.regexp_count(t, F.lit(WS_TOKEN_PATTERN)),
            "_qs_stop": F.regexp_count(F.lower(t), F.lit(LANG_PATTERNS["en"])),
            "_qs_punct": F.length(F.regexp_replace(t, NON_PUNCT_RUNS, "")),
            "_qs_space": length - F.length(F.translate(t, JAVA_WHITESPACE, "")),
        }
        n_chars, n_words, n_stop, n_punct, n_space = (
            F.col(c).cast("double") for c in counts)
        # true mean word length: word characters / words — NOT derived
        # from n_chars with a single-space assumption, which runs of
        # whitespace would inflate
        mean_word_len = F.when(
            n_words > 0, (n_chars - n_space) / n_words).otherwise(F.lit(0.0))
        punct_ratio = F.when(
            n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
        stop_ratio = F.when(
            n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
        score = (
            F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.4
            + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
            + (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
        )
        return counts, {
            "n_words": n_words.cast("long"),
            "mean_word_len": F.round(mean_word_len, 4),
            "punct_ratio": F.round(punct_ratio, 4),
            "stopword_ratio": F.round(stop_ratio, 4),
            "quality": F.round(score, 4),
        }

    # static per text_col: see util.memo_cols — rebuilding
    # this tree per call was pure py4j latency
    counts, features = memo_cols(("quality_score", text_col), build)
    # CollapseProject keeps the counts projection apart from the
    # features because they read each non-cheap count more than once;
    # inlined, q38 evaluated the \S+ count 8 times a row
    return df.withColumns(counts).withColumns(features).drop(*counts)


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content fingerprint: md5 of the exact text plus cheap structural
    attributes — the key for exact dedup and change detection."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.md5(t).alias("md5"),
        F.length(t).cast("long").alias("n_chars_fp"),
        F.substring(t, 1, 16).alias("prefix16"),
    )


EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
PHONE_PATTERN = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
NATID_PATTERN = r"\b\d{3}-\d{2}-\d{4}\b"

# redaction applies in this order; email first, since an address can
# contain an IPv4-shaped domain that the later patterns would shred
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "n_emails": (EMAIL_PATTERN, "<EMAIL>"),
    "n_phones": (PHONE_PATTERN, "<PHONE>"),
    "n_ids": (NATID_PATTERN, "<ID>"),
    "n_ips": (IPV4_PATTERN, "<IP>"),
}


def pii_scan(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document PII audit for a training corpus: count emails,
    phone numbers, IPv4 addresses, and SSN-shaped ids, flag documents
    that contain any, and emit a redacted copy of the text.

    All detection is JVM ``regexp_count``/``regexp_replace`` inside
    whole-stage codegen — a pure map stage that scales with the scan.
    Patterns stick to constructs with identical Java-regex (Spark) and
    RE2 (DuckDB oracle) semantics: classes, ``\\b``, ``{m,n}``.
    Counts are raw pattern hits on the original text; redaction runs
    sequentially in PII_PATTERNS order.
    """
    df = fan_out(df)  # regexp-bound map stage
    t = F.col(text_col)
    for name, (pat, _) in PII_PATTERNS.items():
        df = df.withColumn(name, F.regexp_count(t, F.lit(pat)).cast("long"))
    total = sum((F.col(n) for n in PII_PATTERNS), F.lit(0))
    red = t
    for _, (pat, token) in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, token)
    return df.withColumn("has_pii", (total > 0).cast("long")).withColumn(
        "pii_redacted", red
    )


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style within-document repetition features — the classic
    quality gate that drops boilerplate and spam from a training mix
    (Rae et al. 2021, "Scaling Language Models", §A1.1):

    - ``n_words``          whitespace tokens
    - ``uniq_word_ratio``  distinct words / words
    - ``top_word_frac``    share of the single most frequent word
    - ``dup_word_frac``    share of words occurring more than once
    - ``top_bigram_frac``  share of the most frequent adjacent bigram
                           (0.0 for single-word documents)

    Shape at scale: one posexplode over the scan, a window ``lead``
    and two aggregations all keyed on (doc, token) — uniform keys,
    shuffle volume proportional to token count, no per-doc state
    beyond a document's own tokens (documents are bounded; a single
    doc never spans partitions only for the in-doc window, which is
    the same constraint every per-doc window op here carries).
    """
    from pyspark.sql import Window

    # static Column/agg trees per (text_col, id_col) — see
    # util.memo_cols (the whole function is name-based once built)
    def build():
        win = Window.partitionBy(id_col).orderBy("pos")
        nw = F.col("n_words").cast("double")
        return {
            "explode": F.posexplode(
                F.split(F.col(text_col), r"\s+")).alias("pos", "word"),
            "nxt": F.lead("word").over(win),
            "bigram": F.concat_ws(" ", "word", "nxt").alias("bigram"),
            "cnt": F.count(F.lit(1)).alias("cnt"),
            "per_doc": (
                F.sum("cnt").alias("n_words"),
                F.count(F.lit(1)).alias("n_uniq"),
                F.max("cnt").alias("top_cnt"),
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
                .alias("dup_cnt"),
            ),
            "per_big": (
                F.sum("cnt").alias("n_bigrams"),
                F.max("cnt").alias("top_big_cnt"),
            ),
            "out": (
                F.col(id_col),
                F.col("n_words").cast("long").alias("n_words"),
                rnd(F.col("n_uniq") / nw, 4).alias("uniq_word_ratio"),
                rnd(F.col("top_cnt") / nw, 4).alias("top_word_frac"),
                rnd(F.col("dup_cnt") / nw, 4).alias("dup_word_frac"),
                rnd(
                    F.coalesce(
                        F.col("top_big_cnt")
                        / F.col("n_bigrams").cast("double"),
                        F.lit(0.0),
                    ),
                    4,
                ).alias("top_bigram_frac"),
            ),
        }

    c = memo_cols(("repetition_signals", text_col, id_col), build)
    words = (
        fan_out(df)
        .select(F.col(id_col), c["explode"])
        .where(F.col("word") != "")
    )
    bigrams = (
        words.withColumn("nxt", c["nxt"])
        .where(F.col("nxt").isNotNull())
        .select(id_col, c["bigram"])
    )
    wc = words.groupBy(id_col, "word").agg(c["cnt"])
    per_doc = wc.groupBy(id_col).agg(*c["per_doc"])
    bc = bigrams.groupBy(id_col, "bigram").agg(c["cnt"])
    per_big = bc.groupBy(id_col).agg(*c["per_big"])
    return per_doc.join(per_big, id_col, "left").select(*c["out"])


# quality_filter's rule thresholds and the languages it keeps
QF_MIN_WORDS, QF_MAX_WORDS = 20, 100_000
QF_MIN_MEAN_WORD_LEN, QF_MAX_MEAN_WORD_LEN = 2.0, 12.0
QF_MIN_STOP_RATIO = 0.02
QF_MAX_PUNCT_RATIO = 0.3
QF_MAX_DUP_WORD_FRAC = 0.85
QF_MAX_TOP_BIGRAM_FRAC = 0.25
QF_LANGS = ("en", "de", "es", "fr")


def quality_filter(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The composed C4/Gopher-style document gate a training pipeline
    actually runs: length, word-shape, punctuation, stopword-fluency,
    repetition, and language rules evaluated together into one
    ``keep`` verdict per document (C4: Raffel et al. 2020 §2.2;
    Gopher: Rae et al. 2021 §A1.1). PII hits ride along as an audit
    column — redaction, not dropping, is the usual remedy.

    The stopword-fluency rule only applies to documents *detected* as
    English (the stopword list is English); other languages pass it.

    Rules compare the ROUNDED signal columns, so the verdict is
    engine-reproducible (an ulp away from a threshold must not flip
    keep/drop between Spark and the oracle).

    Shape at scale: every signal except repetition is one codegen map
    stage over the scan; repetition adds its explode+agg keyed on the
    doc id, joined back on that same id — shuffle volume proportional
    to token count, verdict evaluation free. At 100 TB this is the
    cheap pre-filter run before any pairwise dedup.
    """
    # NULL text normalizes to "" so such documents get a real keep=0
    # verdict (every signal 0) instead of a NULL verdict
    df = df.select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
    base = quality_score(df.select(id_col, text_col), text_col)
    base = lang_id(base, text_col)
    n_pii = memo_cols(
        ("qf_n_pii", text_col),
        lambda: sum(
            (F.regexp_count(F.col(text_col), F.lit(p))
             for p, _ in PII_PATTERNS.values()),
            F.lit(0),
        ),
    )
    # project text OUT before the repetition join (guide §2.3): every
    # signal is computed by here, and the join exchange would
    # otherwise carry the full document bytes just to drop them in
    # the final select.
    base = base.withColumn("n_pii", n_pii.cast("long")).drop(text_col)
    rep = repetition_signals(
        df.select(id_col, text_col), text_col, id_col
    ).select(id_col, "dup_word_frac", "top_bigram_frac")
    # LEFT join: empty/whitespace-only/null documents emit no
    # repetition rows (every token filtered) but must still get a
    # verdict — they fail the min_words rule, they do not vanish.
    # Coalesce to 0.0 so the repetition rule stays well-defined.
    j = base.join(rep, id_col, "left").withColumns(
        {
            "dup_word_frac": F.coalesce("dup_word_frac", F.lit(0.0)),
            "top_bigram_frac": F.coalesce("top_bigram_frac", F.lit(0.0)),
        }
    )
    def build_rules():
        ok_words = F.col("n_words").between(QF_MIN_WORDS, QF_MAX_WORDS)
        ok_wlen = F.col("mean_word_len").between(
            QF_MIN_MEAN_WORD_LEN, QF_MAX_MEAN_WORD_LEN
        )
        ok_punct = F.col("punct_ratio") <= QF_MAX_PUNCT_RATIO
        ok_stop = (F.col("pred_lang") != "en") | (
            F.col("stopword_ratio") >= QF_MIN_STOP_RATIO
        )
        ok_rep = (F.col("dup_word_frac") <= QF_MAX_DUP_WORD_FRAC) & (
            F.col("top_bigram_frac") <= QF_MAX_TOP_BIGRAM_FRAC
        )
        ok_lang = F.col("pred_lang").isin(list(QF_LANGS))
        keep = ok_words & ok_wlen & ok_punct & ok_stop & ok_rep & ok_lang
        return (
            ok_words.cast("long").alias("ok_words"),
            ok_lang.cast("long").alias("ok_lang"),
            ok_rep.cast("long").alias("ok_repetition"),
            keep.cast("long").alias("keep"),
        )

    rule_cols = memo_cols(("qf_rules",), build_rules)
    return j.select(
        id_col,
        "n_words",
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "dup_word_frac",
        "top_bigram_frac",
        "pred_lang",
        "n_pii",
        *rule_cols,
    )


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str,
                    k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic keyword /
    topic signal used to slice and inspect a training mix.

    score = tf · ln(N / df), ranked per document by (rounded score
    desc, term asc); the ROUNDED score is the sort key so rank order
    is identical across engines (two correct engines can differ by an
    ulp on raw ln products, and an ulp at a rank boundary would swap
    rows).

    Shape at scale: explode → (doc, term) counts with map-side
    partials; document frequency is a second aggregation over the
    distinct (doc, term) pairs already in hand; the corpus-size scalar
    joins in as a broadcast single-row frame (no driver action); the
    per-doc top-k window partitions on doc_id — uniform keys, no
    global sort.
    """
    from pyspark.sql import Window

    words = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            rnd(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                4,
            ),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                "score", F.col("rank").cast("long").alias("rank"))
    )


def source_mix_weights(df: DataFrame, source_col: str, text_col: str,
                       targets: dict[str, float]) -> DataFrame:
    """Per-source sampling weights that rebalance a corpus toward a
    target mixture — the knob a training-data pipeline turns to hit
    e.g. 40% web / 30% books without materializing a new corpus.

    For each source: token share = tokens_s / total_tokens, raw ratio
    = target_s / share_s, and ``sample_weight`` = ratio / max(ratio) —
    keep-probabilities in (0, 1] that preserve the target proportions
    by downsampling every source relative to the most under-target
    one. Feed the weights to :func:`stratified_sample`.

    Sources NOT named in ``targets`` are excluded entirely — no output
    row, and they contribute nothing to the total-token denominator or
    the max-ratio normalizer. The mix is defined over the listed
    sources only (an unlisted source is weight 0: drop it before
    sampling), matching an inner join against the targets relation.

    Shape at scale: token counting is a codegen map stage, and the
    target-source filter is pushed into the scan before the shuffle;
    everything after is an aggregation to ONE ROW PER SOURCE (sources
    are a handful), so the unpartitioned windows for total/max run on
    a frame of that size — trivially safe at any corpus size.
    """
    from pyspark.sql import Window

    toks = (
        fan_out(df)
        .where(F.col(source_col).isin(list(targets)))
        .select(
            F.col(source_col).alias("source"),
            F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_PATTERN))
            .cast("long")
            .alias("n_toks"),
        )
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    tgt = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )[F.col("source")]
    everything = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(everything)
    ratio = tgt / share
    out = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        rnd(share, 6).alias("token_share"),
        tgt.alias("target_share"),
        rnd(ratio / F.max(ratio).over(everything), 6).alias(
            "sample_weight"
        ),
    )
    return out


def temperature_mix_weights(df: DataFrame, source_col: str, text_col: str,
                            alpha: float = 0.5) -> DataFrame:
    """Temperature-flattened source mixture — the α-sampling scheme of
    multilingual pretraining (exponentiated-share sampling: mBERT's
    0.7-power smoothing, XLM-R's α=0.3; Conneau & Lample 2019 §3.1):
    resample so source ``s`` is drawn with probability
    ``q_s = p_s^α / Σ_t p_t^α`` where ``p_s`` is its token share.
    α<1 flattens the mixture (upweights small sources), α=1 leaves it
    unchanged, α=0 is uniform-across-sources. Unlike
    :func:`source_mix_weights` the target is DERIVED from the corpus
    itself — no hand-written target dict to maintain as dumps grow.

    Output per source: token share, temperature share ``temp_share``
    (= q_s), and ``sample_weight`` = (q_s/p_s) / max_t(q_t/p_t) — the
    keep-probability to feed :func:`stratified_sample` /
    :func:`apply_mix_weights`' bucket sampler.

    Cross-engine determinism: shares are pre-rounded at 8 digits
    before ``pow`` so both engines exponentiate identical inputs (the
    q84 exp() precedent — pow is ≤1-ulp in both engines, collapsed by
    the final 6-digit round).

    Shape at scale: identical to :func:`source_mix_weights` — one
    codegen token-count map stage, one agg to a row per source, then
    unpartitioned windows over that handful of rows.
    """
    from pyspark.sql import Window

    if alpha < 0:
        raise ValueError("temperature alpha must be >= 0")
    toks = fan_out(df).select(
        F.col(source_col).alias("source"),
        F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_PATTERN))
        .cast("long")
        .alias("n_toks"),
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    everything = Window.partitionBy()
    share = rnd(
        F.col("n_tokens").cast("double") / F.sum("n_tokens").over(everything),
        8,
    )
    powered = F.pow(share, F.lit(float(alpha)))
    q = powered / F.sum(powered).over(everything)
    ratio = q / share
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        rnd(share, 6).alias("token_share"),
        rnd(q, 6).alias("temp_share"),
        rnd(ratio / F.max(ratio).over(everything), 6).alias(
            "sample_weight"
        ),
    )


def corpus_card(df: DataFrame, text_col: str, source_col: str) -> DataFrame:
    """Per-(source, language) datasheet summary (Gebru et al. 2021
    "Datasheets for Datasets", summary-table variant): doc/token
    counts, mean quality, mean punctuation ratio per cell — ONE
    definition shared by the q101 oracle gate and the `card` CLI so
    the two can never drift. One codegen map stage + one small agg."""
    scored = lang_id(quality_score(df, text_col), text_col)
    return scored.groupBy(
        F.col(source_col).alias("source"), F.col("pred_lang")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        rnd(F.avg("quality"), 4).alias("avg_quality"),
        rnd(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
    )


def repeat_schedule(df: DataFrame, source_col: str, text_col: str,
                    targets: dict[str, float], token_budget: int,
                    max_epochs: float = 4.0) -> DataFrame:
    """Data-constrained repeat schedule (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models", arXiv:2305.16264 —
    repeating data up to ~4 epochs costs little): given a total token
    budget and a target mixture, how many EPOCHS of each source to
    run. ``epochs_s = min(max_epochs, budget·target_s / tokens_s)``
    (fractional epochs = a partial pass via the deterministic
    sampler); ``effective_tokens`` is what the schedule actually
    yields and ``shortfall`` what the epoch cap leaves unfilled — the
    number a curator reads to know a source is data-constrained.

    Shape at scale: the same one-row-per-source aggregation as
    :func:`source_mix_weights`; the schedule math runs on that
    handful of rows.
    """
    toks = (
        fan_out(df)
        .where(F.col(source_col).isin(list(targets)))
        .select(
            F.col(source_col).alias("source"),
            F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_PATTERN))
            .cast("long")
            .alias("n_toks"),
        )
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    tgt = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )[F.col("source")]
    desired = tgt * F.lit(float(token_budget))
    epochs = F.least(
        F.lit(float(max_epochs)),
        rnd(desired / F.col("n_tokens").cast("double"), 8),
    )
    effective = rnd(epochs * F.col("n_tokens").cast("double"), 2)
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        tgt.alias("target_share"),
        rnd(desired, 2).alias("desired_tokens"),
        rnd(epochs, 6).alias("epochs"),
        effective.alias("effective_tokens"),
        rnd(
            F.greatest(F.lit(0.0), rnd(desired, 2) - effective), 2
        ).alias("shortfall"),
    )


def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    chunk_tokens: int = 64, overlap: int = 16) -> DataFrame:
    """Split documents into fixed-size overlapping token windows — the
    context-window prep step between a cleaned corpus and a tokenizer
    (chunk size in whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens so no span is lost at a boundary).

    chunk ``i`` covers words ``[i·stride, i·stride + chunk_tokens)``
    with ``stride = chunk_tokens − overlap``; a document shorter than
    one chunk yields exactly one (possibly short) chunk.

    Shape at scale: pure map stage — ``split`` → ``sequence`` →
    ``explode`` → ``slice``, all JVM built-ins inside codegen; output
    rows ≈ input tokens / stride, no shuffle, no Python. Chunk ids are
    deterministic, so downstream exact-dedup on (doc, chunk) is
    reproducible.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.array_size(words)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"),
    )
    out = (
        fan_out(df)
        .select(
            F.col(id_col),
            words.alias("_words"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                F.col("_words"),
                F.col("chunk_id") * stride + 1,
                F.lit(chunk_tokens),
            ).alias("_chunk"),
        )
    )
    return out.select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", F.col("_chunk")).alias("chunk_text"),
        F.array_size(F.col("_chunk")).cast("long").alias("n_chunk_tokens"),
    )


def pack_sequences(chunks: DataFrame, id_cols: list[str], tokens_col: str,
                   capacity: int, num_shards: int = 64) -> DataFrame:
    """Assign token chunks to fixed-capacity training sequences — the
    concatenate-then-split packing LM training runs between chunking
    and tokenization (documents are laid end to end; a sequence
    boundary falls every ``capacity`` tokens, so chunks may straddle
    two sequences — the standard GPT-style packing, not bin packing).

    Each chunk gets: its shard, the sequence id its FIRST token lands
    in, and its token offset within that sequence. Layout is fully
    deterministic: shard = multiplicative hash of the first id col mod
    ``num_shards`` (:func:`hash_split`'s engine-portable scheme, so
    the oracle replays the exact layout), order within a shard =
    ``id_cols``.

    Shape at scale: one shuffle onto uniform hash shards, then a
    running-sum window PER SHARD — no global ordering anywhere, so
    adding executors splits the work; a single unpartitioned window
    here would serialize the corpus through one task at 100 TB.
    """
    from pyspark.sql import Window

    shard = shard_hash(F.col(id_cols[0]), num_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(*[F.col(c) for c in id_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        chunks.select(*id_cols, F.col(tokens_col).alias("_n"), shard)
        .withColumn("_cum", F.sum("_n").over(w))
        .select(
            *id_cols,
            "shard",
            F.col("_n").cast("long").alias("n_tokens"),
            ((F.col("_cum") - F.col("_n")) / capacity)
            .cast("long")
            .alias("seq_id"),
            F.pmod(F.col("_cum") - F.col("_n"), F.lit(capacity))
            .cast("long")
            .alias("seq_offset"),
        )
    )
    return out


def apply_mix_weights(df: DataFrame, source_col: str, id_col: str,
                      text_col: str, targets: dict[str, float]) -> DataFrame:
    """End-to-end mix rebalancing: compute per-source keep
    probabilities (:func:`source_mix_weights`), apply them with the
    deterministic hash sampler (:func:`stratified_sample`'s bucket
    scheme), and report the ACHIEVED token mix of the sampled corpus
    next to the target — the closed-loop check that the weights
    actually steer the corpus where they claim.

    Per the mix-weights contract, sources not named in ``targets``
    are dropped (weight 0): the inner join against the broadcast
    weights frame removes them before sampling.

    Shape at scale: the weights frame is one row per target source —
    broadcast into the join, so sampling is a scan-side map filter
    (no shuffle of the corpus), and the achieved-mix report is one
    aggregation to a handful of rows. No driver collect.
    ``floor(sample_weight × 10000)`` turns each keep probability into
    a bucket threshold; multiply-then-floor on the already
    cross-engine-rounded weight is IEEE-exact in both engines, so the
    sampled row set is oracle-reproducible.
    """
    from pyspark.sql import Window

    weights = source_mix_weights(df, source_col, text_col, targets)
    w = F.broadcast(
        weights.select(
            F.col("source").alias(source_col),
            "target_share",
            F.floor(F.col("sample_weight") * 10000).alias("threshold"),
        )
    )
    bucket = shard_hash(F.col(id_col), 10000)
    sampled = df.join(w, on=source_col, how="inner").where(
        bucket < F.col("threshold")
    )
    per = sampled.groupBy(
        F.col(source_col).alias("source"), F.col("target_share")
    ).agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(
            F.regexp_count(F.col(text_col), F.lit(WS_TOKEN_PATTERN))
            .cast("long")
        ).alias("n_tokens_kept"),
    )
    everything = Window.partitionBy()
    share = (
        F.col("n_tokens_kept").cast("double")
        / F.sum("n_tokens_kept").over(everything)
    )
    return per.select(
        "source",
        "n_docs_kept",
        "n_tokens_kept",
        "target_share",
        rnd(share, 6).alias("achieved_share"),
        rnd(share - F.col("target_share"), 6).alias("share_err"),
    )


def top_ngrams(df: DataFrame, text_col: str, id_col: str,
               n: int = 5, k: int = 20) -> DataFrame:
    """Most-repeated word ``n``-grams corpus-wide, with occurrence and
    document counts — the memorization-risk / boilerplate report run
    before training (sequences repeated across many documents are the
    ones a model memorizes verbatim).

    Shape at scale: one shingle explode (shared machinery with the
    dedup family), a two-level aggregation with map-side partials on
    uniform shingle keys, then a global top-k that plans as
    TakeOrderedAndProject — per-partition heaps of ``k`` rows, never a
    full sort. The rank column is attached AFTER the limit, so its
    window touches exactly ``k`` rows.
    """
    from pyspark.sql import Window
    from .dedup import shingle_rows

    # short_fallback=False: a report of top n-GRAMS must not surface a
    # 2-word doc's whole text as a pseudo n-gram (the fallback exists
    # for dedup participation, not for this report)
    grams = shingle_rows(df, text_col, id_col, n, distinct=False,
                         short_fallback=False)
    counts = grams.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col("doc")).alias("n_docs"),
    )
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("shingle").asc()
    ).limit(k).select(
        F.col("shingle").alias("ngram"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )
    win = Window.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
    return top.withColumn("rank", F.row_number().over(win).cast("long"))


def clean_text(df: DataFrame, text_col: str) -> DataFrame:
    """Training-corpus text normalization, all JVM regexp built-ins:
    redact emails and URLs, drop control characters, collapse runs of
    whitespace, trim. Order matters (URLs can contain '@')."""
    t = F.col(text_col)
    t = F.regexp_replace(t, URL_PATTERN, "<URL>")
    t = F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>")
    t = F.regexp_replace(t, r"[\x00-\x1F\x7F]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return df.withColumn("clean_text", F.trim(t))


def hash_split(df: DataFrame, id_col: str,
               weights: dict[str, int]) -> DataFrame:
    """Deterministic train/val/test assignment by multiplicative hash
    of the id — stable across runs, engines, partitionings (the
    property random() sampling can't give a reproducible pipeline).
    ``weights`` maps split name → percent; must sum to 100.

    ``pmod`` (not ``%``) so negative ids still land in [0, 100) —
    Spark's ``%`` preserves sign, and a negative bucket would satisfy
    no range, silently dropping the row from every split."""
    assert sum(weights.values()) == 100
    bucket = shard_hash(F.col(id_col), 100)
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = (bucket >= lo) & (bucket < lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      fractions: dict[str, float]) -> DataFrame:
    """Deterministic per-stratum sampling — how a training mix is
    actually built (e.g. keep 10% of crawl, 100% of curated sources).

    Each row's bucket in [0, 10000) comes from a multiplicative hash
    of its id (same engine-portable integer scheme as
    :func:`hash_split`) — stable across runs, engines, and
    partitionings, so the sample itself is oracle-checkable in plain
    SQL. A row survives iff bucket < fraction × 10000 for its stratum;
    strata absent from ``fractions`` are dropped. Pure map-stage
    filter: no shuffle, scales with the scan.

    ``pmod`` keeps buckets in [0, 10000) for negative ids too —
    Spark's ``%`` preserves sign, and a negative bucket would pass
    ``bucket < threshold`` for every stratum, including fraction 0.0.
    """
    bucket = shard_hash(F.col(id_col), 10000)
    expr = None
    for name, frac in fractions.items():
        cond = (F.col(strata_col) == name) & (bucket < int(round(frac * 10000)))
        expr = cond if expr is None else expr | cond
    return df.where(expr)


def hashed_ngram_buckets(df: DataFrame, text_col: str, id_col: str,
                         n_buckets: int = 1024,
                         flag: Column | None = None) -> DataFrame:
    """Hashed bag-of-n-grams features (word unigrams + bigrams →
    ``n_buckets`` hash buckets): one ``(doc, bucket)`` row per gram
    occurrence — the shared feature extractor for DSIR importance
    weighting and any hashed-vocabulary classifier.

    Cross-engine hash (same contract as winnowing): first 8 hex chars
    of md5 parsed as a long, mod ``n_buckets`` — DuckDB replays it as
    ``('0x' || substr(md5(g),1,8))::BIGINT % B``. Tokenization is the
    corpus-wide ``\\s+`` split on lowercased text.

    Shape at scale: the bigram forms MAP-SIDE (the token array zipped
    against its own shifted tail — the r12 ``shingle_rows`` rewrite;
    the old posexplode + ``lead`` window shuffled and sorted every
    token by doc id just to pair neighbors), then one explode of the
    combined gram array into the codegen hash map stage. No shuffle,
    no Python, no driver state.

    ``flag`` (optional) is evaluated against the input row and carried
    through as a boolean ``_t`` column — the hook that lets a caller
    scoring TWO overlapping corpora (DSIR's raw vs target-subset) pay
    for ONE gram pass.
    """
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # bigrams: zip the array against its tail; null-pad at the end
    # drops out via the filter (concat propagates null, unlike
    # concat_ws which would silently emit a bare unigram)
    bi = F.zip_with(
        arr,
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(arr, F.filter(bi, lambda x: x.isNotNull()))
    cols = [F.col(id_col).alias("doc")]
    if flag is not None:
        cols.append(flag.alias("_t"))
    out = fan_out(df).select(*cols, F.explode(grams).alias("gram"))
    return out.select(
        *(["doc"] + (["_t"] if flag is not None else [])),
        F.pmod(
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        ).alias("b"),
    )


def dsir_weights(raw: DataFrame, target: DataFrame | None, text_col: str,
                 id_col: str, n_buckets: int = 1024,
                 target_pred: Column | None = None) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling; Xie et al. 2023, arXiv:2302.03169): score every raw
    document by how much more likely its hashed n-gram features are
    under the TARGET distribution than under the RAW distribution —
    ``logw(doc) = Σ_b count_b(doc) · (ln p̂_t[b] − ln p̂_r[b])`` with
    Laplace-smoothed hashed unigram+bigram models. Select-high docs
    look like the target domain; compose with top-k
    (TakeOrderedAndProject) or :func:`hash_split` for the actual
    resampling step.

    Cross-engine determinism: bucket log-ratios are pre-rounded at 8
    digits (so both engines sum IDENTICAL per-bucket values and the
    final ``rnd`` collapse only has to absorb summation order), and
    the bucket hash is the md5-based portable scheme of
    :func:`hashed_ngram_buckets`.

    Shape at scale: ONE gram pass over ``raw`` aggregated to a cached
    narrow (doc, bucket, count) frame that serves the raw model, the
    per-doc counts, AND — when the target is a predicate-defined
    subset of ``raw`` (``target_pred``; the DSIR paper's usual setup)
    — the target model too, so the corpus is tokenized exactly once
    (r12; previously three gram passes: raw twice + target once).
    The weight table is ≤ ``n_buckets`` rows → broadcast into the
    per-doc bucket counts; one (doc, bucket) agg keyed by doc.
    Nothing quadratic, nothing on the driver, no Python.

    Pass EITHER ``target`` (a separate frame — two gram passes) OR
    ``target_pred`` (a boolean Column over ``raw``'s rows — one pass);
    the two forms are value-identical when ``target`` equals
    ``raw.where(target_pred)``, since the target's bucket counts are
    exact integer sums either way.
    """
    if target is None and target_pred is None:
        # without this, the call falls through to
        # hashed_ngram_buckets(None, ...) and dies with an opaque
        # AttributeError (r12 ADVICE)
        raise ValueError("dsir_weights: pass target or target_pred")
    if target_pred is not None:
        if target is not None:
            raise ValueError("pass either target or target_pred, not both")
        g = hashed_ngram_buckets(raw, text_col, id_col, n_buckets,
                                 flag=target_pred)
        # _t is constant per doc, so (doc, b, _t) groups ≡ (doc, b)
        db = g.groupBy("doc", "b", "_t").agg(
            F.count(F.lit(1)).alias("c")).cache()
        rc = db.groupBy("b").agg(F.sum("c").alias("cr"))
        tc = db.where(F.col("_t")).groupBy("b").agg(
            F.sum("c").alias("ct"))
    else:
        g_r = hashed_ngram_buckets(raw, text_col, id_col, n_buckets)
        g_t = hashed_ngram_buckets(target, text_col, id_col, n_buckets)
        db = g_r.groupBy("doc", "b").agg(
            F.count(F.lit(1)).alias("c")).cache()
        rc = db.groupBy("b").agg(F.sum("c").alias("cr"))
        tc = g_t.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    tot_r = rc.agg(F.sum("cr").cast("double").alias("tr"))
    tot_t = tc.agg(F.sum("ct").cast("double").alias("tt"))
    wt = (
        rc.join(tc, "b", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "b",
            rnd(
                F.log(
                    (F.coalesce("ct", F.lit(0)).cast("double") + 1.0)
                    / (F.col("tt") + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("cr").cast("double") + 1.0)
                    / (F.col("tr") + F.lit(float(n_buckets)))
                ),
                8,
            ).alias("w"),
        )
    )
    logw = (
        db.join(F.broadcast(wt), "b")
        .groupBy("doc")
        .agg(rnd(F.sum(F.col("c") * F.col("w")), 4).alias("logw"))
    )
    out = (
        raw.select(F.col(id_col).alias("doc"))
        .join(logw, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("logw", F.lit(0.0)).alias("logw"),
        )
    )
    out._cached_inputs = [db]  # see functions.dedup.release
    return out


def unigram_logprob(df: DataFrame, text_col: str, id_col: str,
                    vocab_size: int = 20) -> DataFrame:
    """Unigram-LM fluency scoring — the KenLM-perplexity stand-in of
    CCNet-style quality filtering (Wenzek et al. 2020), trainable on
    the corpus itself with no external model: take the top
    ``vocab_size`` tokens as the vocabulary, pool everything else into
    one <unk> mass, and score each document by its mean token log
    probability (plus the derived perplexity). Low ``avg_logp`` / high
    ``ppl`` marks documents full of rare or garbled tokens — the
    standard "perplexity bucket" signal for quality stratification.

    Determinism: the vocabulary is top-V by (count DESC, token ASC) —
    ties at the cut cannot diverge between engines; per-token log
    probs are pre-rounded at 8 digits so both engines aggregate
    identical values; ``ppl = exp(−avg_logp)`` is computed from the
    already-rounded mean.

    Shape at scale: one token-count agg (shuffle keyed by token), a
    V-row TakeOrdered for the vocabulary (broadcast), then one
    map-side broadcast join + per-doc agg. The model is two scalar
    aggregates plus V rows — nothing corpus-sized leaves the
    executors, no Python anywhere.
    """
    toks = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    )
    # the token-count frame is VOCABULARY-sized but referenced by
    # three model sub-frames (tot/vocab/unk) — without materialization
    # each reference re-ran the corpus token explode+agg (r12, guide
    # §1.2). localCheckpoint: one corpus scan, model frames derive
    # from the leaf.
    cnts = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).localCheckpoint()
    tot = cnts.agg(F.sum("c").alias("n"))
    vocab = cnts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(vocab_size)
    unk = (
        cnts.join(F.broadcast(vocab.select("w")), "w", "left_anti")
        .agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("cu"))
    )
    scored = (
        toks.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(unk))
        .select(
            "doc",
            rnd(F.log(F.coalesce("c", F.col("cu")) / F.col("n")), 8).alias("lp"),
        )
    )
    agg = scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        rnd(F.avg("lp"), 4).alias("avg_logp"),
    )
    return agg.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        "avg_logp",
        rnd(F.exp(-F.col("avg_logp")), 4).alias("ppl"),
    )


def bigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Bigram-LM fluency scoring with Stupid Backoff (Brants et al.
    2007, "Large Language Models in Machine Translation" §4 — the
    smoothing designed FOR distributed LMs: no normalization pass, so
    counts shard freely). Each token is scored
    ``S(w|prev) = c(prev,w)/c(prev)`` when the bigram survives the
    count cutoff, else ``0.4 · c(w)/N``; a document's first token
    falls back to its unigram score. Sharper than
    :func:`unigram_logprob` at separating shuffled/garbled text from
    fluent text, since it scores word ORDER, not just vocabulary.

    The count cutoff of 2 is Brants-style: bigrams
    seen fewer times are PRUNED from the model (at web scale the
    singleton tail is most of the bigram table) and score through the
    backoff. It also keeps the backoff path genuinely live when — as
    here — the model is trained on the very corpus being scored
    (without a cutoff every scored transition is in the table by
    construction).

    Determinism: per-token log scores are pre-rounded at 8 digits so
    both engines aggregate identical values; ``ppl`` derives from the
    already-rounded mean (the q84 contract).

    Shape at scale: the count model is two aggs (shuffle keyed by
    token / token pair — the Brants sharding); scoring joins the token
    stream against those tables ON THE GRAM KEY, so no table ever
    needs to fit anywhere whole (AQE broadcasts them when small). One
    per-doc window for `lag`, one per-doc agg. No Python, no driver
    state.
    """
    from pyspark.sql import Window

    # map-side (w, prev) pairs (r12, guide §2.4): the previous token
    # is the array shifted right one slot — no posexplode + lag
    # window, which shuffled and sorted every token (and `stream`
    # feeds two branches, so the window ran twice per execution).
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    prev_arr = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        arr, prev_arr,
        lambda a, b: F.struct(a.alias("w"), b.alias("prev")),
    )
    stream = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(pairs).alias("pos", "_p"),
    ).select("doc", "pos", F.col("_p.w").alias("w"),
             F.col("_p.prev").alias("prev"))
    toks = stream.select("doc", "pos", "w")
    # vocabulary-sized, referenced 3x (tot/prev_cnt/score join) —
    # one corpus scan via localCheckpoint
    uni = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("cw")
    ).localCheckpoint()
    tot = uni.agg(F.sum("cw").alias("n"))
    bi = (
        stream.where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("cb"))
        .where(F.col("cb") >= 2.0)
    )
    prev_cnt = uni.select(F.col("w").alias("prev"), F.col("cw").alias("cprev"))
    scored = (
        stream.join(bi, ["prev", "w"], "left")
        .join(prev_cnt, "prev", "left")
        .join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc",
            rnd(
                F.when(
                    F.col("prev").isNull(), F.log(F.col("cw") / F.col("n"))
                )
                .when(
                    F.col("cb").isNotNull(),
                    F.log(F.col("cb") / F.col("cprev")),
                )
                .otherwise(
                    F.log(F.lit(0.4) * F.col("cw") / F.col("n"))
                ),
                8,
            ).alias("lp"),
        )
    )
    agg = scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        rnd(F.avg("lp"), 4).alias("avg_logp"),
    )
    return agg.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        "avg_logp",
        rnd(F.exp(-F.col("avg_logp")), 4).alias("ppl"),
    )


def bpe_train(df: DataFrame, text_col: str, num_merges: int = 10,
              batch: int = 1) -> list[tuple[str, str, int]]:
    """Train a byte-pair-encoding merge table on the corpus (Sennrich
    et al. 2016) — the tokenizer-induction step of a training-data
    pipeline, distributed the way industrial BPE trainers actually
    scale: ONE corpus pass reduces the text to a (word, count) vocab
    frame, and every merge iteration then runs over the VOCAB (bounded
    by distinct word types — millions of rows at 100 TB, not the
    corpus), so the iterative part never rescans the data.

    Per iteration: adjacent symbol pairs explode from the symbol
    arrays weighted by word count → one (pair) agg → the top ``batch``
    pairs (count DESC, pair ASC — deterministic ties) come back to the
    driver → an Arrow map rewrites the symbol arrays. The vocab frame
    is ``localCheckpoint``ed each iteration: the rewrite is
    data-dependent on the merge choice, and an uncut lineage would
    re-inline the Arrow stages of every earlier generation into every
    later job.

    ``batch`` > 1 is the standard distributed-BPE optimization for a
    real 32k-merge vocabulary: of the top ``batch`` candidate pairs,
    the ranked PREFIX up to the first conflict (a pair sharing a
    symbol — or colliding with a produced token string — of any
    higher-ranked keeper) is applied in rank order within ONE vocab
    rewrite, cutting driver round-trips and vocab-frame rewrites from
    ``num_merges`` toward ``num_merges / batch`` Spark jobs. The
    prefix-cut (not skip-and-continue) rule is what preserves the
    sequential semantics: kept pairs are mutually disjoint, so each
    one's count is invariant under the merges before it, while every
    deferred pair — whose count can only shrink — and every pair a
    kept merge creates (bounded by a conflicting parent) ranks below
    the entire kept prefix. ``batch=1`` is EXACTLY the sequential
    Sennrich procedure (the reference-parity test pins it); batched
    runs reproduce the sequential table up to exotic equal-count
    tie-break races (none on the gate corpus, pinned by
    tests/test_llm_ops.py::test_bpe_train_batched_matches_sequential).

    Symbols start as single characters (no end-of-word marker — the
    reference twin in the tests makes the same choice). Returns the
    merge table ``[(left, right, pair_count), ...]`` in rank order.
    """
    import pandas as pd
    from pyspark.sql import types as T

    vocab = (
        fan_out(df)
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split(F.col("w"), "").alias("syms"), "cnt")
        .localCheckpoint(eager=True)
    )
    schema = T.StructType(
        [
            T.StructField("syms", T.ArrayType(T.StringType())),
            T.StructField("cnt", T.LongType()),
        ]
    )
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    merges: list[tuple[str, str, int]] = []
    while len(merges) < num_merges:
        n = F.size("syms")
        pairs = (
            vocab.where(n >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, n - 1).alias("a"),
                        F.slice(F.col("syms"), 2, 2147483647).alias("b"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        top = pairs.orderBy(
            F.col("c").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(min(batch, num_merges - len(merges))).collect()
        if not top:
            break
        # ranked prefix up to the first conflict: the top pair always
        # survives, so batch=1 degenerates to the exact sequential
        # procedure; see the docstring for why cutting (not skipping)
        # preserves sequential merge order
        used: set[str] = set()
        chosen: list[tuple[str, str, int]] = []
        for row in top:
            a, b = row["a"], row["b"]
            if a in used or b in used or (a + b) in used:
                break
            chosen.append((a, b, int(row["c"])))
            used.update((a, b, a + b))
        merges.extend(chosen)
        table = tuple((a, b) for a, b, _ in chosen)

        @worker_task
        def rewrite(it):
            for pdf in it:
                out = []
                for syms in pdf["syms"]:
                    s = list(syms)
                    # each merge is its own full left-to-right pass, in
                    # rank order — identical semantics to applying the
                    # batch members as separate sequential rewrites
                    for a, b in table:
                        i, res = 0, []
                        while i < len(s):
                            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                                res.append(a + b)
                                i += 2
                            else:
                                res.append(s[i])
                                i += 1
                        s = res
                    out.append(s)
                yield pd.DataFrame({"syms": out, "cnt": pdf["cnt"]})

        vocab = vocab.mapInPandas(rewrite, schema).localCheckpoint(
            eager=True
        )
    return merges


def budget_select(df: DataFrame, text_col: str, id_col: str,
                  source_col: str, budget_tokens: int,
                  approx: bool = False) -> DataFrame:
    """Quality-ordered token-budget trimming — the complement of
    :func:`repeat_schedule`: that operator plans EPOCHS when a source
    is too small for its mixture share; this one trims a source that
    is too LARGE, keeping its best documents until the per-source
    token budget fills (greedy prefix in (quality DESC, id ASC)
    order — deterministic under the 4-digit quality ties).

    Shape at scale: ONE shuffle keyed by source, then a running sum
    inside each source partition (explicit ROWS frame, never the
    tie-merging RANGE default). A pathologically hot source makes a
    hot partition — ``approx=True`` is the escape hatch: one
    map-combinable agg computes each source's token total and a
    ``percentile_approx`` quality sketch, the per-source KEEP
    threshold (the doc-count quantile at the budget's token fraction)
    broadcasts back, and the verdict is a codegen filter map — no
    source-keyed sort, no hot partition. The approximation is
    doc-quantile-as-token-quantile: exact when doc sizes are uniform,
    and quality ties keep the whole tied level (never a mid-tie cut),
    so the budget can overshoot by one tie class. The exact window IS
    the oracled gate (q105); the approx path returns
    ``(id, source, n_tokens, quality, q_threshold, kept)``.

    Exact mode emits every document with its running total and
    verdict so the trim is auditable: ``(id, source, n_tokens,
    quality, cum_tokens, kept)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    qs = quality_score(df.select(id_col, source_col, text_col), text_col)
    if approx:
        grid = [i / 1000.0 for i in range(1, 1000)]
        sk = qs.groupBy(source_col).agg(
            F.sum("n_words").alias("_tot"),
            F.percentile_approx("quality", grid, 10_000)
            .alias("_qgrid"),
        ).collect()  # one row per SOURCE — bounded like the mixture ops
        thr_rows = []
        for r in sk:
            tot = r["_tot"] or 0
            if tot <= budget_tokens:
                thr_rows.append((r[source_col], None))  # keep everything
                continue
            p_keep = budget_tokens / tot
            idx = min(len(grid) - 1,
                      max(0, int(round((1.0 - p_keep) * 1000)) - 1))
            thr_rows.append((r[source_col], float(r["_qgrid"][idx])))
        thr_schema = T.StructType(
            [qs.schema[source_col],
             T.StructField("q_threshold", T.DoubleType())]
        )
        thr = df.sparkSession.createDataFrame(thr_rows, thr_schema)
        return qs.join(F.broadcast(thr), source_col).select(
            id_col,
            source_col,
            F.col("n_words").alias("n_tokens"),
            "quality",
            "q_threshold",
            F.when(
                F.col("q_threshold").isNull()
                | (F.col("quality") >= F.col("q_threshold")),
                1,
            ).otherwise(0).cast("int").alias("kept"),
        )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("quality").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return qs.select(
        id_col,
        source_col,
        F.col("n_words").alias("n_tokens"),
        "quality",
        F.sum("n_words").over(w).cast("long").alias("cum_tokens"),
    ).withColumn(
        "kept", (F.col("cum_tokens") <= F.lit(int(budget_tokens))).cast("int")
    )


def vocab_coverage(df: DataFrame, text_col: str, id_col: str,
                   vocab_size: int = 1000) -> DataFrame:
    """Vocabulary-coverage / OOV audit: build the corpus top-``V``
    word vocabulary (count DESC, word ASC on ties) and measure, per
    document, how much of it falls outside that vocabulary — the
    pre-tokenizer health check that catches encoding mojibake, wrong-
    language shards, and code-in-prose pockets before a BPE train run
    locks the vocab (the fertility complement: q103 measures how MANY
    pieces a tokenizer makes, this measures what it has never seen).

    Shape at scale: one word-count agg (map-combinable), top-V via
    orderBy+limit — TakeOrderedAndProject, a distributed heap, NOT a
    single-partition window sort — then the bounded vocab broadcasts
    into a left join and one per-doc agg. Corpus streams twice.

    Emits every document (tokenless ones too): ``(id, n_tokens,
    n_oov, oov_rate)``.
    """
    words = fan_out(df).select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).where(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        wc.orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(int(vocab_size))
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    per = (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_doc"))
        .join(per, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.coalesce(
                rnd(
                    F.col("n_oov") / F.col("n_tokens").cast("double"),
                    4,
                ),
                F.lit(0.0),
            ).alias("oov_rate"),
        )
    )


def epoch_shuffle(df: DataFrame, id_col: str, epochs: int = 3,
                  num_shards: int = 8) -> DataFrame:
    """Deterministic per-epoch global shuffle order — the
    training-loader contract that every epoch visits the corpus in a
    DIFFERENT pseudorandom order, reproducible run-to-run and across
    engines. Each document gets a per-epoch address ``(epoch, shard,
    pos)``: shard and order key come from the engine-portable
    multiplicative hash family (the :func:`~..util.shard_hash`
    contract — replayable in ANSI SQL, unlike Spark's murmur3
    ``repartition`` placement), epoch mixed into both so no two
    epochs share an order.

    Shape at scale: this is how real pipelines implement "global
    shuffle" — there is NO single global sort. One explode (×epochs),
    one shuffle keyed by (epoch, shard) — uniform by construction —
    and a row_number window per shard partition; a consumer streams
    shards in index order, rows by ``pos``, and sees a full
    permutation. ``num_shards`` sizes partitions to the cluster.
    """
    from pyspark.sql import Window

    src = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(int(epochs) - 1)))
        .alias("epoch"),
    )
    key = F.col(id_col).cast("long") * 31 + F.col("epoch") * 7919
    okey = F.col(id_col).cast("long") * 17 + F.col("epoch") * 104729
    shard = F.pmod((key % 1_000_003) * 2654435761, F.lit(int(num_shards)))
    ordkey = F.pmod((okey % 999_983) * 2654435761, F.lit(1_000_000_007))
    w = Window.partitionBy("epoch", "shard").orderBy("_ord", id_col)
    return (
        src.select(
            id_col,
            F.col("epoch").cast("long").alias("epoch"),
            shard.cast("long").alias("shard"),
            ordkey.alias("_ord"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_ord")
    )


def source_divergence(df: DataFrame, text_col: str, source_col: str,
                      vocab_size: int = 20, alpha: float = 0.5) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between per-source unigram
    distributions — the mixture-design diagnostic that tells a
    curation run WHICH sources actually differ (a near-zero pair is
    redundant coverage; a high pair justifies separate mixture
    weights; the complement of :func:`source_mix_weights`, which sets
    HOW MUCH of each source to take).

    Distributions live on the corpus top-``vocab_size`` vocabulary
    (count DESC, word ASC ties — deterministic cut), add-``alpha``
    smoothed so every probability is strictly positive; OOV mass is
    excluded by design (:func:`vocab_coverage` is the OOV audit). Per
    the unigram-LM determinism scheme, probabilities and each log
    term pre-round at 8 digits so both engines aggregate identical
    values; JS = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2, natural log.

    Shape at scale: one (source, word) count agg, a V-row TakeOrdered
    vocabulary broadcast into an S×V dense grid (sources are bounded
    — the mix-weights contract), then a word-keyed self-join of S·V
    rows and one pair-keyed agg. Nothing corpus-sized shuffles twice.
    """
    src = F.col(source_col)
    toks = fan_out(df).select(
        src.alias("_s"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).where(F.col("w") != "")
    cnts = toks.groupBy("_s", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    vocab = (
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(int(vocab_size))
        .select("w")
    )
    sources = cnts.select("_s").distinct()
    grid = sources.crossJoin(F.broadcast(vocab))
    vc = grid.join(cnts, ["_s", "w"], "left").select(
        "_s", "w", F.coalesce("c", F.lit(0.0)).alias("c")
    )
    iv = vc.groupBy("_s").agg(F.sum("c").alias("tot"))
    probs = vc.join(F.broadcast(iv), "_s").select(
        "_s",
        "w",
        rnd(
            (F.col("c") + F.lit(float(alpha)))
            / (F.col("tot") + F.lit(float(alpha * vocab_size))),
            8,
        ).alias("p"),
    )
    a = probs.select(
        F.col("_s").alias("source_a"), "w", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("_s").alias("source_b"), "w", F.col("p").alias("pb")
    )
    m = (F.col("pa") + F.col("pb")) / 2.0
    term = 0.5 * (
        F.col("pa") * rnd(F.log(F.col("pa") / m), 8)
        + F.col("pb") * rnd(F.log(F.col("pb") / m), 8)
    )
    return (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(rnd(F.sum(term), 4).alias("js_div"))
    )


def weighted_sample(df: DataFrame, id_col: str, strata_col: str,
                    weight_col, k: int,
                    k_overrides: DataFrame | None = None) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per stratum —
    Efraimidis & Spirakis 2006 (IPL 97(5)): rank rows by
    ``key = u^(1/w)`` (u uniform, w > 0 the weight) and keep each
    stratum's top ``k``; the selection distribution equals sequential
    weighted draws without replacement. This is how a quality-weighted
    training subsample is actually taken — q57's stratified_sample
    keeps a FRACTION uniformly; this keeps a COUNT, preferring
    high-weight documents, still fully deterministic.

    ``u`` comes from the engine-portable multiplicative hash of the id
    (the :func:`~..util.shard_hash` scheme) mapped into (0, 1), so the
    sample replays in plain SQL and across runs/partitionings; the
    key pre-rounds at 8 digits (ties then break on id ASC, total
    order). Zero/negative weights raise upstream questions — here
    they are clamped to a floor of 1e-9 so the row ranks last rather
    than poisoning ``pow``.

    Shape at scale: one shuffle keyed by stratum + a per-stratum
    window — the q105 budget pattern. For a pathologically hot
    stratum, the same percentile_approx threshold escape applies.

    ``k_overrides`` is an optional model-sized ``(strata_col, _k)``
    frame giving a per-stratum keep count (broadcast-joined; strata
    absent from it fall back to ``k``) — the hook a mixture-weighting
    stage (DoReMi, temperature) uses to size each source's sample.
    """
    from pyspark.sql import Window

    bucket = shard_hash(F.col(id_col), 1_000_003)
    u = (bucket + F.lit(1.0)) / F.lit(1_000_004.0)  # in (0, 1)
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1e-9))
    key = rnd(F.pow(u, F.lit(1.0) / w), 8)
    win = Window.partitionBy(strata_col).orderBy(
        F.col("es_key").desc(), F.col(id_col).asc()
    )
    ranked = (
        df.withColumn("es_key", key)
        .withColumn("rk", F.row_number().over(win).cast("long"))
    )
    if k_overrides is None:
        return ranked.where(F.col("rk") <= int(k))
    return (
        ranked.join(F.broadcast(k_overrides), strata_col, "left")
        .where(F.col("rk") <= F.coalesce(F.col("_k"), F.lit(int(k))))
        .drop("_k")
    )


def doremi_weights(docs: DataFrame, id_col: str, source_col: str,
                   ref_lp: DataFrame, proxy_lp: DataFrame,
                   iters: int = 5, eta: float = 1.0,
                   smooth: float = 0.1) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv:2305.10429): the ITERATIVE complement of the static q64/q93
    mixtures, closing the mixture tool chain (weights → schedule →
    sample → assemble). Instead of sizing sources by token share or
    temperature, Group-DRO multiplicative weights upweight the
    domains where a weak PROXY model lags a REFERENCE model most —
    "hard but learnable" domains get more mass.

    ``ref_lp`` / ``proxy_lp`` are per-document ``(id, avg_logp)``
    score frames from any two models — here the corpus-trained
    unigram LM (q84, the reference) and the Stupid-Backoff bigram LM
    (q95, the proxy), both already oracled. Per-document excess loss
    is ``max(0, L_proxy − L_ref) = max(0, ref_avg_logp −
    proxy_avg_logp)`` (loss = −avg logprob; clipped at 0 per the
    paper), averaged per source — ONE distributed join + one
    map-combinable agg. The multiplicative-weights chain then runs on
    bounded driver state (|sources| floats, the q104/BPE model-state
    contract): per step t,

        u_s   = rnd8(w_s · rnd8(exp(η·e_s)))
        α''_s = rnd8(u_s / rnd8(Σ u))
        w_s   ← rnd8((1−c)·α''_s + c/S)

    — renormalize then uniform-smooth with mixing weight ``c =
    smooth``, exactly the paper's update with a STATIC excess loss
    (the data-engine setting scores the corpus once; the paper
    re-trains the proxy per step, which is a training-loop concern,
    not a query-engine one). Every step rides the rnd ladder at 8
    digits so the DuckDB oracle replays the whole trajectory by
    unrolling the chain into CTEs (the q104 unroll pattern).

    Returns the full trajectory ``(source, step, weight,
    excess_loss)`` for steps 0..iters — |sources|·(iters+1) rows; the
    step-``iters`` slice is the mixture to feed
    :func:`~.pipeline.assemble_training_data`'s optional
    ``source_weights`` stage.

    Shape at scale: the corpus work is the two LM scoring passes the
    caller already ran; this adds one broadcast-sized join-agg and a
    driver recursion over S floats. Nothing corpus-sized moves.
    """
    import math

    from ..util import rnd_np

    per = (
        docs.select(id_col, source_col)
        .join(ref_lp.select(id_col, F.col("avg_logp").alias("_ref")),
              id_col)
        .join(proxy_lp.select(id_col, F.col("avg_logp").alias("_prox")),
              id_col)
        .groupBy(source_col)
        .agg(
            rnd(
                F.avg(F.greatest(F.lit(0.0),
                                 F.col("_ref") - F.col("_prox"))), 6
            ).alias("excess_loss")
        )
    )
    # S rows; cached so the trajectory collect and the returned
    # frame's join don't each re-run the two LM scoring pipelines
    # (the dedup-family _cached_inputs/release() contract)
    per = per.cache()
    rows = sorted(per.collect(), key=lambda r: r[source_col])
    if not rows:
        raise ValueError("doremi_weights: no sources")

    def r8(x: float) -> float:
        return float(rnd_np([x], 8)[0])

    srcs = [r[source_col] for r in rows]
    e = {r[source_col]: float(r["excess_loss"]) for r in rows}
    sf = float(len(srcs))
    keep = 1.0 - smooth
    m = {s: r8(math.exp(eta * e[s])) for s in srcs}
    w = {s: r8(1.0 / sf) for s in srcs}
    traj = [(s, 0, w[s]) for s in srcs]
    for t in range(1, iters + 1):
        u = {s: r8(w[s] * m[s]) for s in srcs}
        z = r8(sum(u[s] for s in srcs))
        w = {s: r8(keep * r8(u[s] / z) + smooth / sf) for s in srcs}
        traj.extend((s, t, w[s]) for s in srcs)
    spark = docs.sparkSession
    tdf = spark.createDataFrame(
        traj, f"{source_col} string, step long, weight double"
    )
    out = tdf.join(F.broadcast(per), source_col).select(
        F.col(source_col).alias("source"), "step", "weight", "excess_loss"
    )
    out._cached_inputs = [per]  # dedup.release() contract
    return out


def zipf_stats(df: DataFrame, text_col: str, id_col: str,
               top_ranks: int = 500) -> DataFrame:
    """Corpus-level Zipf diagnostics in one row: vocabulary size,
    total token count, the head share, and a log-log OLS fit of
    frequency against rank over the top ``top_ranks`` ranks. Natural
    corpora fit ``slope ≈ −1`` (Zipf 1949); a pipeline that suddenly
    reads −0.5 (flattened head — boilerplate dedup gone wrong) or −2
    (template explosion — one page stamped millions of times) has a
    data bug upstream. The standard one-glance health check run after
    every major curation stage (Wenzek et al. 2020 report exactly
    this curve for CCNet shards).

    Determinism: ranks order by (count DESC, token ASC) — ties at the
    cut are stable cross-engine; the regression runs over per-rank
    ``(ln rank, ln count)`` pre-rounded at 8 digits and the closed-
    form OLS moments are rounded again before the divide.

    Shape at scale: one token-count agg (token-keyed combinable
    shuffle), a ``top_ranks``-row TakeOrdered (driver-bounded,
    model-sized), and a single-row reduce over those rows. The
    corpus never moves; the vocabulary table never sorts globally —
    only the bounded head does.
    """
    from pyspark.sql import Window

    toks = _ws_tokens(df, text_col, id_col)
    cnts = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    totals = cnts.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top1"),
    )
    head = (
        cnts.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(top_ranks)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("w").asc()))
            .alias("r"),
        )
        .select(
            rnd(F.log("r"), 8).alias("x"),
            rnd(F.log("c"), 8).alias("y"),
        )
    )
    fit = head.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        rnd(F.sum("x"), 8).alias("sx"),
        rnd(F.sum("y"), 8).alias("sy"),
        rnd(F.sum(F.col("x") * F.col("x")), 8).alias("sxx"),
        rnd(F.sum(F.col("x") * F.col("y")), 8).alias("sxy"),
    )
    return (
        F.broadcast(totals)
        .crossJoin(F.broadcast(fit))
        .select(
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            rnd(F.col("top1") / F.col("n_tokens"), 4).alias("top1_share"),
            rnd(
                (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m"))
                / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")),
                4,
            ).alias("zipf_slope"),
            rnd(
                F.col("sy") / F.col("m")
                - (
                    (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m"))
                    / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m"))
                )
                * F.col("sx") / F.col("m"),
                4,
            ).alias("zipf_intercept"),
        )
    )


def _ws_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shared whitespace tokenizer stream: (doc, pos, w)."""
    return fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "w"),
    )


def kn_bigram_logprob(df: DataFrame, text_col: str, id_col: str,
                      discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.25) — the third rung of the LM-quality
    ladder after q84's unigram MLE and q95's Stupid Backoff:

    ``P(w|v) = max(c(v,w) − D, 0) / c(v·)
             + D · N1+(v·) / c(v·) · P_cont(w)``

    where ``P_cont(w) = N1+(·w) / |bigram types|`` is the CONTINUATION
    probability — how many distinct contexts ``w`` follows, not how
    often it occurs — the innovation that makes KN the strongest
    count-based smoothing ("Francisco" is frequent but follows only
    "San", so it gets a tiny continuation weight). Per doc: mean
    token log-prob + perplexity, the q84/q95 output contract.

    Scored on the training corpus itself every term is well-defined
    with no extra floors: a token at ``pos ≥ 2`` IS a continuation of
    its prev (so ``N1+(·w) ≥ 1`` and ``c(v·) ≥ 1``); each document's
    FIRST token has no context and scores by its unigram MLE
    ``c(w)/N`` (the q95 first-token convention).

    Determinism: all model quantities are integer counts; the single
    per-token log is pre-rounded at 8 digits (util.rnd contract)
    before the per-doc mean.

    Shape at scale: Brants-style sharded count tables — bigram counts
    keyed by (prev, w), context totals / distinct-continuation counts
    by prev, continuation counts by w — every one a combinable
    shuffle agg, joined back ON THE GRAM KEY so no table needs to fit
    anywhere whole (AQE broadcasts the small ones). One lag window
    per doc, one final per-doc agg. No Python, no driver state.
    """
    from pyspark.sql import Window as W

    toks = _ws_tokens(df, text_col, id_col)
    stream = toks.select(
        "doc", "pos", "w",
        F.lag("w").over(W.partitionBy("doc").orderBy("pos")).alias("prev"),
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("cw"))
    tot = uni.agg(F.sum("cw").alias("n"))
    bi = (
        stream.where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("cb"))
    )
    # context totals + distinct continuations per context (one agg)
    ctx = bi.groupBy("prev").agg(
        F.sum("cb").alias("cv"),
        F.count(F.lit(1)).cast("double").alias("n1p_fwd"),
    )
    # continuation counts per word + the bigram-type total
    cont = bi.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("n1p_bwd")
    )
    btypes = bi.agg(F.count(F.lit(1)).cast("double").alias("bt"))
    d = float(discount)
    scored = (
        stream.join(bi, ["prev", "w"], "left")
        .join(ctx, "prev", "left")
        .join(cont, "w", "left")
        .join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btypes))
        .select(
            "doc",
            rnd(
                F.when(
                    F.col("prev").isNull(),
                    F.log(F.col("cw") / F.col("n")),
                ).otherwise(
                    F.log(
                        F.greatest(
                            F.coalesce(F.col("cb"), F.lit(0.0)) - F.lit(d),
                            F.lit(0.0),
                        )
                        / F.col("cv")
                        + F.lit(d)
                        * F.col("n1p_fwd")
                        / F.col("cv")
                        * (F.col("n1p_bwd") / F.col("bt"))
                    )
                ),
                8,
            ).alias("lp"),
        )
    )
    agg = scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        rnd(F.avg("lp"), 4).alias("avg_logp"),
    )
    return agg.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        "avg_logp",
        rnd(F.exp(-F.col("avg_logp")), 4).alias("ppl"),
    )


def quantile_normalize(df: DataFrame, value_col: str, by: list[str],
                       keep_frac: float | None = None) -> DataFrame:
    """Per-group quantile (rank) normalization of a score column —
    the standard fix for cross-source score-scale mismatch: a quality
    classifier calibrated on web text scores news systematically
    higher, so one GLOBAL threshold starves some sources and floods
    others. Normalizing to each source's own percentile
    (``percent_rank`` per group) and gating per-source ("keep every
    source's top 30 %") preserves the mixture while still filtering
    within each source — the per-source half of what q64/q93 do
    across sources.

    Ties share a percentile (peer-based rank, no row-order
    dependence), so the output is deterministic without an id
    tie-break; ``keep_frac`` adds a 0/1 keep flag at
    ``pct_rank ≥ 1 − keep_frac`` over the ROUNDED rank, so the
    boundary verdict is engine-stable too.

    Shape at scale: one shuffle keyed by the group column; the window
    sorts within partitions only (no global sort). Skew note: a
    single giant source serializes its own rank scan — acceptable
    because percent_rank is O(n) after the sort; for a pathological
    99 %-one-source corpus, pre-split by hash salt and re-merge ranks
    via the distributed-percentile route (operators/stats.py) instead.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(F.col(value_col).asc())
    out = df.withColumn(
        "pct_rank", rnd(F.percent_rank().over(w), 4)
    )
    if keep_frac is not None:
        thr = round(1.0 - keep_frac, 8)
        out = out.withColumn(
            "keep", (F.col("pct_rank") >= F.lit(thr)).cast("int")
        )
    return out


def chunk_ppl_cut(df: DataFrame, text_col: str, id_col: str,
                  chunk_words: int = 16, vocab_size: int = 20,
                  ppl_quantile: float = 0.9) -> DataFrame:
    """CCNet-style SUB-document perplexity filtering (Wenzek et al.
    2020 §4.3 score paragraphs, not documents): documents split into
    fixed ``chunk_words`` windows, each chunk scored by the corpus
    unigram LM (:func:`unigram_logprob`'s exact model — top-V vocab,
    pooled <unk> mass, 8-digit pre-rounded token log-probs), and
    chunks whose perplexity lands above the corpus ``ppl_quantile``
    are cut while the rest of the document survives — the quality
    twin of :func:`dedup.boilerplate_cut`'s df rule and the missing
    granularity between q70's whole-doc verdict and nothing (one
    garbled boilerplate block no longer condemns a good page).

    The cut threshold is the EXACT corpus quantile of chunk
    perplexities (operators.stats.percentiles — the distributed rank,
    no single-task group), compared on ROUNDED values so the
    keep/drop boundary is engine-stable. Tokenization is the LM
    family's lower(trim) convention, so ``clean_text`` is lowercased
    — documented, matching the q84/q95 scoring layer.

    Shape at scale: one token-count agg (the LM), one chunk explode +
    (doc, chunk)-keyed agg, the percentile's one range-exchange, one
    broadcast threshold, one per-doc reassembly agg. Model = V rows +
    two scalars; nothing corpus-sized is ever collected.
    """
    from ..operators.stats import percentiles

    lowered = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    toks = fan_out(df).select(
        F.explode(lowered).alias("w")
    )
    # vocabulary-sized, referenced by tot/vocab/unk — one corpus scan
    # via localCheckpoint (the unigram_logprob fix)
    cnts = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).localCheckpoint()
    tot = cnts.agg(F.sum("c").alias("n"))
    vocab = cnts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(vocab_size)
    unk = (
        cnts.join(F.broadcast(vocab.select("w")), "w", "left_anti")
        .agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("cu"))
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(F.array_size(lowered) / F.lit(float(chunk_words))).cast("int"),
    )
    chunks = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            lowered.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("idx"),
        )
        .select(
            "doc",
            F.col("idx").cast("long").alias("idx"),
            F.slice(
                F.col("_w"),
                F.col("idx").cast("int") * chunk_words + 1,
                chunk_words,
            ).alias("cw"),
        )
        .withColumn("chunk_text", F.concat_ws(" ", F.col("cw")))
    )
    ctok = chunks.select("doc", "idx", F.explode("cw").alias("w"))
    scored = (
        ctok.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(unk))
        .select(
            "doc", "idx",
            rnd(F.log(F.coalesce("c", F.col("cu")) / F.col("n")), 8)
            .alias("lp"),
        )
    )
    cppl = (
        scored.groupBy("doc", "idx")
        .agg(rnd(F.avg("lp"), 4).alias("avg_logp"))
        .select(
            "doc", "idx",
            rnd(F.exp(-F.col("avg_logp")), 4).alias("ppl"),
        )
        # narrow (doc, idx, ppl) cache (r12, guide §1.2): the frame
        # feeds BOTH the corpus-percentile branch and the verdict
        # join — uncached, the chunk-token explode + vocab join + agg
        # ran twice per execution
        .cache()
    )
    thr = percentiles(cppl, "ppl", [], probs=(ppl_quantile,))
    thr_col = thr.columns[-1]
    verd = (
        cppl.crossJoin(F.broadcast(thr))
        .withColumn("keep", F.col("ppl") <= F.col(thr_col))
        .select("doc", "idx", "ppl", "keep")
    )
    out = (
        chunks.join(verd, ["doc", "idx"])
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_cut"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct("idx", "keep", "chunk_text")
                            )
                        ),
                        lambda s: s["keep"],
                    ),
                    lambda s: s["chunk_text"],
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("doc").alias(id_col), "n_chunks", "n_cut", "clean_text"
        )
    )
    out._cached_inputs = getattr(thr, "_cached_inputs", []) + [cppl]
    return out


def budget_allocation(weights: DataFrame, key_col: str, weight_col: str,
                      budget: int, avail_col: str | None = None) -> DataFrame:
    """Integer token-budget allocation by the largest-remainder
    (Hamilton) method: split an exact ``budget`` across sources
    proportionally to ``weight_col`` such that the parts are integers
    and sum EXACTLY to the budget — the step between a mixture policy
    (q64/q93/q123 weights) and a concrete sampling plan ("train on
    100 M tokens: how many from each source?"). Plain proportional
    rounding over- or under-shoots by up to |sources|/2 tokens;
    largest-remainder distributes the shortfall to the largest
    fractional parts, ties broken by key so the plan is deterministic.

    Cross-engine: weights renormalize on the 8-digit rnd ladder, the
    quota is one double multiply by an integer literal, floor is
    exact, and the leftover count is integer arithmetic — so the
    (frac DESC, key ASC) rank cut is engine-stable. With the
    renormalized weights, 0 ≤ leftover ≤ |sources| by construction.

    If ``avail_col`` is given (available tokens per source), a
    ``fully_funded`` audit flag marks sources whose allocation
    exceeds their inventory — the signal to either repeat that
    source (q102's epoch schedule) or re-run with capped weights.

    Shape at scale: every window here is over the |sources|-row
    WEIGHTS frame (dozens of rows — the model, not the corpus);
    unpartitioned windows are deliberate and bounded.
    """
    from pyspark.sql import Window

    from ..util import rnd

    everything = Window.partitionBy()
    w8 = rnd(
        F.col(weight_col).cast("double")
        / F.sum(F.col(weight_col).cast("double")).over(everything),
        8,
    )
    quota = w8 * F.lit(float(int(budget)))
    scored = weights.select(
        "*",
        F.floor(quota).cast("long").alias("_base"),
        (quota - F.floor(quota)).alias("_frac"),
    )
    rank_w = Window.partitionBy().orderBy(
        F.col("_frac").desc(), F.col(key_col).asc()
    )
    alloc = (
        scored.withColumn(
            "_leftover",
            F.lit(int(budget)) - F.sum("_base").over(everything),
        )
        .withColumn("_rk", F.row_number().over(rank_w))
        .withColumn(
            "alloc_tokens",
            (F.col("_base")
             + F.when(F.col("_rk") <= F.col("_leftover"), F.lit(1))
                .otherwise(F.lit(0))).cast("long"),
        )
    )
    cols = [key_col, weight_col, "alloc_tokens"]
    if avail_col is not None:
        alloc = alloc.withColumn(
            "fully_funded",
            (F.col("alloc_tokens") <= F.col(avail_col)).cast("long"),
        )
        cols = [key_col, weight_col, avail_col, "alloc_tokens",
                "fully_funded"]
    return alloc.select(*cols)


def word_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document unigram word entropy (nats) + type/token ratio —
    the smooth repetitiveness signal beside the hard ratios of
    repetition_signals: templated or looping text collapses toward 0,
    diverse prose approaches ln(n_types). CCNet-style pipelines use
    exactly this family to rank shards before perplexity filtering
    (Wenzek et al. 2020 §4).

    Entropy terms ride the rnd ladder: p = cnt/n pre-rounded at 8
    digits, each −p·ln(p) term pre-rounded at 8 before the sum (the
    q84 ln() precedent — both engines' ln is ≤1 ulp, collapsed by the
    final 4-digit round). Empty/whitespace-only/NULL documents emit
    n_tokens=0 with entropy 0 and ttr 0 — a verdict, not a vanish.

    Shape at scale: one explode → (doc, word) agg → doc agg chain;
    both shuffles are combinable and keyed by the doc id, so skew is
    bounded by the longest single document.
    """
    base = df.select(F.col(id_col).alias("doc"),
                     F.col(text_col).alias("_t"))
    toks = _ws_tokens(
        base.where(F.length(F.trim(F.coalesce(F.col("_t"), F.lit("")))) > 0),
        "_t", "doc",
    ).where(F.col("w") != "")
    wc = toks.groupBy("doc", "w").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    per = wc.groupBy("doc").agg(
        F.sum("cnt").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    p = rnd(F.col("cnt") / F.col("_n"), 8)
    ent = (
        wc.join(per.select("doc", "_n"), "doc")
        .select("doc", rnd(-p * F.log(p), 8).alias("_term"))
        .groupBy("doc")
        .agg(rnd(F.sum("_term"), 4).alias("word_entropy"))
    )
    out = (
        base.select("doc")
        .join(per, "doc", "left")
        .join(ent, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("_n"), F.lit(0.0)).cast("long")
             .alias("n_tokens"),
            F.coalesce(F.col("n_types"), F.lit(0)).cast("long")
             .alias("n_types"),
            F.coalesce(
                rnd(F.col("n_types") / F.col("_n"), 4), F.lit(0.0)
            ).alias("ttr"),
            F.coalesce(F.col("word_entropy"), F.lit(0.0))
             .alias("word_entropy"),
        )
    )
    return out


def heaps_law(df: DataFrame, text_col: str, id_col: str,
              buckets: int = 10) -> DataFrame:
    """Heaps'-law vocabulary growth curve V(N) ≈ k·N^b — the companion
    diagnostic to :func:`zipf_stats`: how fast does the vocabulary
    grow as the corpus grows? A curation stage that collapses b
    (vocab stops growing) signals dedup/boilerplate saturation; one
    that inflates it signals noise injection.

    The corpus splits into ``buckets`` deterministic id-prefixes
    (shard_hash order — any stable order works; the id hash avoids
    crawl-order bias). The naive "count distinct vocab per prefix"
    is quadratic in passes; instead each token type reduces to its
    FIRST-occurrence bucket (one min-agg over the token stream), and
    the cumulative count of first occurrences per bucket IS V(prefix)
    — one pass, combinable aggs, a |buckets|-row cumulation.

    Output: one row per prefix (bucket, cum docs, cum tokens, cum
    vocab) with the fitted log-log slope ``heaps_b`` and intercept
    ``heaps_logk`` attached (constant columns — the q101 corpus-card
    convention); moments ride the 8-digit rnd ladder.
    """
    from pyspark.sql import Window

    from ..util import rnd, shard_hash

    toks = _ws_tokens(df, text_col, id_col).where(F.col("w") != "")
    b = shard_hash(F.col("doc"), buckets)
    per_tok = toks.select(b.alias("_b"), "w")
    first = per_tok.groupBy("w").agg(F.min("_b").alias("_fb"))
    new_types = first.groupBy(F.col("_fb").alias("_b")).agg(
        F.count(F.lit(1)).cast("long").alias("_new_types")
    )
    doc_b = df.select(shard_hash(F.col(id_col), buckets).alias("_b"),
                      F.col(id_col))
    docs_per = doc_b.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_docs"))
    toks_per = per_tok.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_toks"))
    base = (
        docs_per.join(toks_per, "_b", "left")
        .join(new_types, "_b", "left")
        .select(
            F.col("_b").alias("bucket"),
            F.coalesce("_docs", F.lit(0)).alias("_docs"),
            F.coalesce("_toks", F.lit(0)).alias("_toks"),
            F.coalesce("_new_types", F.lit(0)).alias("_new"),
        )
    )
    # |buckets|-row frame: the unpartitioned cumulation is bounded
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    cum = base.select(
        "bucket",
        F.sum("_docs").over(w).cast("long").alias("cum_docs"),
        F.sum("_toks").over(w).cast("long").alias("cum_tokens"),
        F.sum("_new").over(w).cast("long").alias("cum_vocab"),
    ).where(F.col("cum_tokens") > 0)
    pts = cum.select(
        "bucket", "cum_docs", "cum_tokens", "cum_vocab",
        rnd(F.log(F.col("cum_tokens").cast("double")), 8).alias("_x"),
        rnd(F.log(F.col("cum_vocab").cast("double")), 8).alias("_y"),
    )
    m = pts.agg(
        rnd(F.avg("_x"), 8).alias("mx"), rnd(F.avg("_y"), 8).alias("my"),
        rnd(F.avg(F.col("_x") * F.col("_y")), 8).alias("mxy"),
        rnd(F.avg(F.col("_x") * F.col("_x")), 8).alias("mx2"),
    )
    varx = F.col("mx2") - F.col("mx") * F.col("mx")
    slope = F.when(varx > 0,
                   (F.col("mxy") - F.col("mx") * F.col("my")) / varx
                   ).otherwise(F.lit(0.0))
    fit = m.select(
        rnd(slope, 6).alias("heaps_b"),
        rnd(F.col("my") - slope * F.col("mx"), 6)
        .alias("heaps_logk"),
    )
    return pts.select("bucket", "cum_docs", "cum_tokens", "cum_vocab") \
        .crossJoin(F.broadcast(fit))


def bigram_entropy(df: DataFrame, text_col: str, id_col: str,
                   source_col: str) -> DataFrame:
    """Per-source bigram CONDITIONAL entropy H(w₂|w₁) in nats — the
    one-number predictability diagnostic per corpus slice: templated
    or machine-generated sources collapse toward 0 (the next word is
    determined), diverse prose sits high. Complements the per-doc
    scores (q84/q95/q126 score documents under a corpus LM; this
    scores the SLICE itself) and q114's JS divergence (which compares
    slices, but can't say either is internally repetitive).

    ``H = − Σ p(w₁,w₂) · ln p(w₂|w₁)``, computed per source from the
    exact bigram/context counts. Every term rides the ladder as a
    SHARE (count/total pre-rounded at 8) times a log of a rounded
    ratio — shares sum to 1, so term magnitudes stay inside the rnd
    parity domain at ANY corpus size (the Z99 averages-not-sums
    rule).

    Shape at scale: one per-doc lead window (doc-keyed), a
    (source, w₁, w₂)-keyed combinable agg, a (source, w₁) rollup,
    and a broadcast per-source total — no pairwise work, skew
    bounded by the hottest bigram.
    """
    from pyspark.sql import Window

    toks = fan_out(df).select(
        F.col(source_col).alias("src"),
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "w"),
    ).where(F.col("w") != "")
    win = Window.partitionBy("doc").orderBy("pos")
    big = (
        toks.withColumn("w2", F.lead("w").over(win))
        .where(F.col("w2").isNotNull())
        .groupBy("src", "w", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("n12"))
    )
    ctx = big.groupBy("src", "w").agg(
        F.sum("n12").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("_pairs"),
    )
    tot = ctx.groupBy("src").agg(
        F.sum("n1").alias("nb"),
        F.sum("_pairs").cast("long").alias("n_unique_bigrams"),
        F.count(F.lit(1)).cast("long").alias("n_unique_contexts"),
    )
    share = rnd(F.col("n12") / F.col("nb"), 8)
    ratio = rnd(F.col("n12") / F.col("n1"), 8)
    terms = (
        big.join(ctx.select("src", "w", "n1"), ["src", "w"])
        .join(F.broadcast(tot.select("src", "nb")), "src")
        .select("src", rnd(-share * F.log(ratio), 8).alias("_t"))
    )
    ent = terms.groupBy("src").agg(
        rnd(F.sum("_t"), 4).alias("cond_entropy")
    )
    return tot.join(ent, "src").select(
        F.col("src").alias(source_col),
        F.col("nb").cast("long").alias("n_bigrams"),
        "n_unique_bigrams",
        "n_unique_contexts",
        "cond_entropy",
    )


def coverage_curve(df: DataFrame, text_col: str, id_col: str,
                   cutoffs: tuple[int, ...] = (100, 300, 1000, 3000)
                   ) -> DataFrame:
    """Token-coverage curve: for each vocabulary-size cutoff K, the
    fraction of all token OCCURRENCES covered by the K most frequent
    types — the tokenizer-sizing diagnostic ("is a 32k vocab enough
    for this corpus, or does the tail matter?") that turns q110's
    single-vocab OOV audit into the curve a tokenizer designer
    actually reads. Frequency ranks tie-break by token (the q125
    Zipf convention) so the cut is engine-stable; a cutoff beyond
    the vocabulary clamps to the full vocabulary (coverage 1.0).

    Shape at scale: the token stream reduces to the model-sized
    vocabulary frame (one combinable agg); the rank/cumulation
    windows run over THAT frame only (the q125 convention), and the
    output is |cutoffs| rows.
    """
    from pyspark.sql import Window

    from ..util import rnd

    toks = _ws_tokens(df, text_col, id_col).where(F.col("w") != "")
    vc = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    order = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    cum = vc.select(
        F.row_number().over(order).alias("rk"),
        F.sum("c").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cumc"),
    )
    tot = vc.agg(
        F.sum("c").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_v"),
    )
    cuts = (
        df.sparkSession.range(0, len(cutoffs))
        .select(
            F.element_at(
                F.array(*[F.lit(int(k)) for k in cutoffs]),
                (F.col("id") + 1).cast("int"),
            ).alias("cutoff")
        )
    )
    sel = cuts.crossJoin(F.broadcast(tot)).select(
        "cutoff", "_n",
        F.least(F.col("cutoff").cast("long"), F.col("_v")).alias("_rk"),
    )
    return (
        sel.join(cum, sel["_rk"] == cum["rk"])
        .select(
            "cutoff",
            F.col("_rk").cast("long").alias("vocab_used"),
            F.col("cumc").cast("long").alias("covered_tokens"),
            rnd(F.col("cumc").cast("double") / F.col("_n"), 6)
            .alias("coverage"),
        )
        .orderBy("cutoff")
    )


def curriculum_order(df: DataFrame, text_col: str, id_col: str,
                     source_col: str, phases: int = 3,
                     num_shards: int = 8) -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009 applied to LLM
    curation): assign every document a training PHASE by its
    per-source quality percentile — cleanest third first, noisiest
    last — and a deterministic shuffled (shard, pos) address WITHIN
    its phase, so the loader reads phases in order but sees each
    phase in a reproducible pseudorandom permutation. Composes the
    two oracled primitives it sits on: :func:`quantile_normalize`
    (per-source percentile — the cross-source-scale fix, so no
    source is all-phase-2 just because its classifier scale runs
    low) and :func:`epoch_shuffle`'s portable hash addressing (phase
    mixed into the order key exactly like the epoch was).

    Phase boundary arithmetic runs on the ROUNDED percentile
    (engine-stable); phase = floor((1 − pct) · phases) clamped to
    phases−1, so percentile 1.0 (best) → phase 0.

    Shape at scale: the q129 source-keyed rank window + one
    (phase, shard)-keyed row_number window — the q113 shape with
    phase for epoch. No global sort anywhere.
    """
    from pyspark.sql import Window

    from ..util import rnd

    scored = quality_score(
        df.select(id_col, source_col, text_col), text_col
    ).select(id_col, source_col, "quality")
    qn = quantile_normalize(scored, "quality", [source_col])
    p = F.lit(int(phases))
    phase = F.least(
        F.floor((F.lit(1.0) - F.col("pct_rank")) * p).cast("long"),
        (p - 1).cast("long"),
    )
    base = qn.select(
        id_col, source_col, "pct_rank", phase.alias("phase")
    )
    okey = F.col(id_col).cast("long") * 17 + F.col("phase") * 104729
    shard = F.pmod(
        ((F.col(id_col).cast("long") * 31 + F.col("phase") * 7919)
         % 1_000_003) * 2654435761,
        F.lit(int(num_shards)),
    )
    ordkey = F.pmod((okey % 999_983) * 2654435761, F.lit(1_000_000_007))
    w = Window.partitionBy("phase", "shard").orderBy("_ord", id_col)
    return (
        base.select(
            id_col, source_col, "pct_rank", "phase",
            shard.cast("long").alias("shard"),
            ordkey.alias("_ord"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_ord")
    )


def moore_lewis(df: DataFrame, text_col: str, id_col: str,
                in_domain_col: str, vocab_size: int = 20,
                delta: float = 0.5) -> DataFrame:
    """Cross-entropy difference selection (Moore & Lewis 2010,
    "Intelligent Selection of Language Model Training Data"): train
    one unigram LM on the in-domain slice and one on its complement,
    then score EVERY document by the per-token log-prob difference
    ``avg_lp_in − avg_lp_gen``. Positive means "reads more like the
    target domain than like the general pool" — the classic cheap
    domain-selection filter a curator runs before any learned
    classifier exists (the contrastive complement of
    :func:`unigram_logprob`'s single-model fluency score).

    Both models share :func:`unigram_logprob`'s vocabulary contract —
    top-``vocab_size`` tokens by (count DESC, token ASC) with a pooled
    <unk> mass — plus additive-δ smoothing so a token unseen on one
    side (unk mass 0) still scores finitely:
    ``lp = ln((c + δ) / (N + δ·(V+1)))`` with V+1 event classes
    (V vocabulary types + <unk>). δ and the thresholds live on BOTH
    engines as exact literals; per-token lps are pre-rounded at 8, the
    per-doc means at 4 digits, and ``ce_diff`` is a difference of
    the two already-rounded means — identical across engines by the
    rnd contract.

    Shape at scale: ONE token explode (the corpus-sized pass), one
    token-count agg carrying conditional in/out counts (shuffle keyed
    by token), two V-row TakeOrdereds + two scalar aggs (the models),
    then one broadcast-join scoring pass and a per-doc agg. Nothing
    corpus-sized leaves the executors; no Python in the hot path.
    ``selected = ce_diff > 0`` is the textbook operating point.
    """
    flags = df.select(
        F.col(id_col).alias("doc"),
        F.col(in_domain_col).cast("int").alias("ind"),
    )
    toks = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).join(flags, "doc")
    cnts = toks.groupBy("w").agg(
        F.sum("ind").cast("double").alias("c_in"),
        F.sum(1 - F.col("ind")).cast("double").alias("c_gen"),
    ).persist()  # feeds 2 vocabs + 2 unk masses + 2 totals; released
    # by the caller via dedup.release (_cached_inputs contract)

    def model(c_col: str):
        tot = cnts.agg(F.sum(c_col).alias("n"))
        vocab = (
            cnts.where(F.col(c_col) > 0)
            .orderBy(F.col(c_col).desc(), F.col("w").asc())
            .limit(vocab_size)
            .select("w", F.col(c_col).alias("c"))
        )
        unk = (
            cnts.join(F.broadcast(vocab.select("w")), "w", "left_anti")
            .agg(F.coalesce(F.sum(c_col), F.lit(0.0)).alias("cu"))
        )
        return vocab, unk, tot

    v_in, u_in, t_in = model("c_in")
    v_gen, u_gen, t_gen = model("c_gen")
    d = float(delta)
    vp1 = float(vocab_size + 1)

    def lp(c, cu, n):
        return rnd(
            F.log((F.coalesce(c, cu) + F.lit(d)) / (n + F.lit(d * vp1))), 8
        )

    scored = (
        toks.select("doc", "w")
        .join(F.broadcast(v_in.withColumnRenamed("c", "ci")), "w", "left")
        .join(F.broadcast(v_gen.withColumnRenamed("c", "cg")), "w", "left")
        .crossJoin(F.broadcast(u_in.withColumnRenamed("cu", "cui")))
        .crossJoin(F.broadcast(u_gen.withColumnRenamed("cu", "cug")))
        .crossJoin(F.broadcast(t_in.withColumnRenamed("n", "ni")))
        .crossJoin(F.broadcast(t_gen.withColumnRenamed("n", "ng")))
        .select(
            "doc",
            lp(F.col("ci"), F.col("cui"), F.col("ni")).alias("lpi"),
            lp(F.col("cg"), F.col("cug"), F.col("ng")).alias("lpg"),
        )
    )
    agg = scored.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        rnd(F.avg("lpi"), 4).alias("avg_lp_in"),
        rnd(F.avg("lpg"), 4).alias("avg_lp_gen"),
    )
    ce = rnd(F.col("avg_lp_in") - F.col("avg_lp_gen"), 4)
    out = agg.select(
        F.col("doc").alias(id_col),
        "n_tokens", "avg_lp_in", "avg_lp_gen",
        ce.alias("ce_diff"),
        (ce > 0).cast("int").cast("long").alias("selected"),
    )
    out._cached_inputs = [cnts]  # see functions.dedup.release
    return out


def unimax_allocation(inv: DataFrame, key_col: str, avail_col: str,
                      budget: int, max_epochs: int = 4) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): split a token budget as UNIFORMLY as possible
    across sources, subject to a per-source repeat cap — no source is
    seen more than ``max_epochs`` times. The fairness-first
    alternative to proportional/temperature mixing (q64/q93) and
    Hamilton quotas (q152): small sources get their full
    ``max_epochs·inventory`` and the remaining budget splits equally
    among the rest.

    Closed-form waterfilling, no iteration: sources sorted ascending
    by inventory are capped exactly while
    ``cap_i · (n − i + 1) ≤ budget − Σ_{j<i} cap_j`` — the standard
    prefix-capped argument (both sides integer-valued doubles, so the
    comparison is EXACT, no rounding ladder needed); the crossover is
    enforced as a running boolean min so a later row can never
    re-enter the capped set. Uncapped sources share the leftover
    equally; only the final share and the epochs ratio are rounded.

    Every window is over the |sources|-row inventory frame (the
    model, not the corpus — the q152 contract). Returns per source:
    the allocation, epochs = alloc/inventory, and the capped flag.
    """
    from pyspark.sql import Window

    everything = Window.partitionBy()
    asc = Window.partitionBy().orderBy(
        F.col(avail_col).asc(), F.col(key_col).asc()
    )
    cap = F.col(avail_col).cast("double") * F.lit(float(int(max_epochs)))
    b = float(int(budget))
    base = inv.select(
        key_col,
        F.col(avail_col).cast("long").alias(avail_col),
        cap.alias("_cap"),
        F.row_number().over(asc).alias("_i"),
        F.count(F.lit(1)).over(everything).alias("_n"),
    )
    prefix = F.coalesce(
        F.sum("_cap").over(
            asc.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    ok = (
        F.col("_cap") * (F.col("_n") - F.col("_i") + 1)
        <= F.lit(b) - prefix
    ).cast("int")
    flagged = base.select(
        "*",
        F.min(ok).over(
            asc.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_capped"),
    )
    tot_capped = F.coalesce(
        F.sum(F.when(F.col("_capped") == 1, F.col("_cap"))).over(everything),
        F.lit(0.0),
    )
    n_uncap = (
        F.col("_n") - F.sum("_capped").over(everything)
    ).cast("double")
    share = F.when(
        n_uncap > 0, (F.lit(b) - tot_capped) / n_uncap
    )
    alloc = F.when(F.col("_capped") == 1, F.col("_cap")).otherwise(share)
    out = flagged.select(
        key_col,
        avail_col,
        rnd(alloc, 4).alias("alloc_tokens"),
        rnd(alloc / F.col(avail_col), 6).alias("epochs"),
        F.col("_capped").cast("long").alias("capped"),
    )
    return out


def hapax_density(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document hapax-legomena density: the share of a document's
    token occurrences whose CORPUS frequency is exactly 1 — the
    other tail of :func:`vocab_coverage`'s top-V audit. High hapax
    share marks OCR garbage, random identifiers, hex dumps, and
    mangled encodings (every "word" is globally unique); near-zero
    marks boilerplate assembled entirely from common vocabulary.
    The classic cheap lexical-novelty signal between q38's surface
    ratios and q84's LM perplexity.

    One token explode, one token-keyed count agg (the q84 shuffle),
    one join back on the token key (the count table shards with the
    tokens — nothing needs to fit anywhere whole), one per-doc
    combinable agg. A corpus-frequency-1 token can appear in exactly
    one document, once — so ``n_hapax`` is also "tokens this document
    contributes to the corpus vocabulary's singleton tail"."""
    toks = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w"),
    )
    cnts = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = (
        toks.join(cnts, "w")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("c") == 1).cast("long")).cast("long")
            .alias("n_hapax"),
        )
    )
    return agg.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        "n_hapax",
        rnd(F.col("n_hapax") / F.col("n_tokens"), 4)
        .alias("hapax_share"),
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """PII masking APPLY (Dolma §4 masks emails / phone numbers / IP
    addresses before release; the scan-only sibling is the q60 PII
    report): every match becomes a typed ``|||EMAIL|||`` /
    ``|||PHONE|||`` / ``|||IP|||`` placeholder via one codegen
    regexp_replace chain, with per-type match counts carried
    alongside. The patterns stay inside the RE2 ∩ Java-regex common
    subset (character classes + \\b only — no lookaround), so the
    whole redaction replays verbatim in the SQL oracle.

    Returns (id, n_emails, n_phones, n_ips, n_pii, redacted_md5) —
    the md5 pins the FULL redacted text into the value hash without
    hauling the text through the compare. Map-only: scales with the
    scan, nothing else.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "|||EMAIL|||"),
            PII_PHONE_RE, "|||PHONE|||"),
        PII_IP_RE, "|||IP|||")
    ne = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
    np_ = F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long")
    ni = F.regexp_count(t, F.lit(PII_IP_RE)).cast("long")
    return df.select(
        F.col(id_col),
        ne.alias("n_emails"),
        np_.alias("n_phones"),
        ni.alias("n_ips"),
        (ne + np_ + ni).cast("long").alias("n_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )
