"""Differential tests: the window-based operators vs independent
straightforward pandas implementations on seeded random data — catches
semantic drift that golden fixtures and the DuckDB oracle (same SQL
author) could both miss."""

from __future__ import annotations


import numpy as np
import pandas as pd
import pytest

from sarfile_analyzer_ng_spark.operators import timeseries as TS

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

N_ROWS = 3000
N_USERS = 40


@pytest.fixture(scope="module")
def frame():
    rng = np.random.default_rng(7)
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 3_000_000, N_ROWS)), unit="s"
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(N_ROWS),
            "user": rng.integers(0, N_USERS, N_ROWS),
            "ts": ts,
            "value": np.round(rng.uniform(0, 100, N_ROWS), 2),
            "kind": rng.choice(["a", "b"], N_ROWS),
        }
    )


def spark_df(spark, pdf):
    return spark.createDataFrame(pdf)


def test_sessionize_differential(spark, frame):
    got = {
        (r["event_id"]): r["session_id"]
        for r in TS.sessionize(spark_df(spark, frame), "ts", ["user"], 600).collect()
    }
    exp = {}
    for _, grp in frame.sort_values(["user", "ts", "event_id"]).groupby("user"):
        sid = 0
        prev = None
        for _, row in grp.iterrows():
            if prev is None or (row["ts"] - prev).total_seconds() > 600:
                sid += 1
            exp[row["event_id"]] = sid
            prev = row["ts"]
    assert got == exp


def test_rolling_mean_differential(spark, frame):
    got = {
        r["event_id"]: r["rolling_mean"]
        for r in TS.rolling_mean(
            spark_df(spark, frame), "ts", "value", ["user"], preceding=3
        ).collect()
    }
    for _, grp in frame.sort_values(["user", "ts"]).groupby("user"):
        roll = grp["value"].rolling(4, min_periods=1).mean()
        for eid, want in zip(grp["event_id"], roll):
            assert got[eid] == pytest.approx(round(want, 4), abs=1e-4), eid


def test_asof_join_differential(spark, frame):
    left_pd = frame[frame["kind"] == "a"][["event_id", "user", "ts", "value"]]
    right_pd = frame[frame["kind"] == "b"][["user", "ts", "value"]]
    out = TS.asof_join(
        spark_df(spark, left_pd), spark_df(spark, right_pd),
        ["user"], "ts", ["value"], "_r",
    )
    got = {r["event_id"]: (r["value_r"], r["ts_r"]) for r in out.collect()}
    exp = pd.merge_asof(
        left_pd.sort_values("ts"),
        right_pd.sort_values("ts").rename(columns={"value": "value_r", "ts": "ts_r"}),
        left_on="ts", right_on="ts_r", by="user", direction="backward",
    )
    assert len(got) == len(left_pd)
    for _, row in exp.iterrows():
        g_val, g_ts = got[row["event_id"]]
        if pd.isna(row["value_r"]):
            assert g_val is None and g_ts is None, row["event_id"]
        else:
            assert g_val == row["value_r"], row["event_id"]
            assert pd.Timestamp(g_ts) == row["ts_r"], row["event_id"]


def test_detect_gaps_differential(spark, frame):
    got = {
        (r["user"], str(r["ts"])): r["gap_seconds"]
        for r in TS.detect_gaps(spark_df(spark, frame), "ts", ["user"], 7200).collect()
    }
    exp = {}
    for _, grp in frame.sort_values(["user", "ts"]).groupby("user"):
        prev = None
        for _, row in grp.iterrows():
            if prev is not None:
                gap = int(row["ts"].value // 10**9 - prev.value // 10**9)
                if gap > 7200:
                    exp[(row["user"], str(row["ts"]))] = gap
            prev = row["ts"]
    assert got == exp


def test_dsir_weights_match_pure_python_mirror(spark):
    """Third-implementation differential for DSIR (beyond the DuckDB
    oracle): a pure-python mirror of the hashed-gram model — same md5
    bucket hash, same Laplace smoothing, same 8-digit pre-rounded
    per-bucket log-ratios — must reproduce every weight on seeded
    random documents."""
    import hashlib
    import math
    import random

    from sarfile_analyzer_ng_spark.functions import text as TX

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(5, 30))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    target = df.where("doc_id < 6")
    B = 128
    got = {r["doc_id"]: r["logw"] for r in
           TX.dsir_weights(df, target, "text", "doc_id",
                           n_buckets=B).collect()}

    def buckets(text):
        ws = text.lower().split()
        grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        return [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B
                for g in grams]

    raw_counts, tgt_counts = {}, {}
    doc_buckets = {}
    for i, t in docs:
        bs = buckets(t)
        doc_buckets[i] = bs
        for b in bs:
            raw_counts[b] = raw_counts.get(b, 0) + 1
            if i < 6:
                tgt_counts[b] = tgt_counts.get(b, 0) + 1
    tr, tt = float(sum(raw_counts.values())), float(sum(tgt_counts.values()))
    w = {
        b: round(round(
            math.log((tgt_counts.get(b, 0) + 1.0) / (tt + B))
            - math.log((c + 1.0) / (tr + B)), 8), 8)
        for b, c in raw_counts.items()
    }
    for i, _ in docs:
        expect = round(round(sum(w[b] for b in doc_buckets[i]), 8), 4)
        assert got[i] == expect, i


def test_unigram_logprob_matches_pure_python_mirror(spark):
    """Third-implementation differential for the unigram LM: a pure-
    python mirror (same top-V vocabulary with (count DESC, token ASC)
    ties, same <unk> pooling, same rounding ladder) must reproduce
    every avg_logp/ppl on seeded random documents."""
    import math
    import random
    from collections import Counter

    from sarfile_analyzer_ng_spark.functions import text as TX

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(25)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(4, 20))))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    V = 10
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logp"], r["ppl"])
           for r in TX.unigram_logprob(df, "text", "doc_id",
                                       vocab_size=V).collect()}

    cnt = Counter(w for _, t in docs for w in t.lower().split())
    n = float(sum(cnt.values()))
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:V]
    in_vocab = dict(top)
    cu = float(sum(c for w, c in cnt.items() if w not in in_vocab))
    for i, t in docs:
        lps = [
            round(round(math.log(in_vocab.get(w, cu) / n), 8), 8)
            for w in t.lower().split()
        ]
        avg = round(round(sum(lps) / len(lps), 8), 4)
        ppl = round(round(math.exp(-avg), 8), 4)
        assert got[i] == (len(lps), avg, ppl), i


def test_bigram_logprob_matches_pure_python_mirror(spark):
    """Third-implementation differential for the Stupid-Backoff bigram
    LM: a pure-python mirror (same count cutoff, same backoff branch,
    same rounding ladder) must reproduce every avg_logp/ppl on seeded
    random documents — a small vocabulary guarantees both kept and
    pruned bigrams appear."""
    import math
    import random
    from collections import Counter

    from sarfile_analyzer_ng_spark.functions import text as TX

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(8)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(3, 15))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logp"], r["ppl"])
           for r in TX.bigram_logprob(df, "text", "doc_id").collect()}

    toks = {i: t.lower().split() for i, t in docs}
    uni = Counter(w for ws in toks.values() for w in ws)
    n = float(sum(uni.values()))
    bi = Counter(
        (ws[j], ws[j + 1])
        for ws in toks.values() for j in range(len(ws) - 1)
    )
    bi = {k: float(c) for k, c in bi.items() if c >= 2}  # count cutoff
    kept = sum(1 for _ in bi)
    assert kept > 0 and any(
        (ws[j], ws[j + 1]) not in bi
        for ws in toks.values() for j in range(len(ws) - 1)
    ), "need both kept and pruned bigrams for the test to mean anything"
    r8 = lambda v: round(round(v, 8), 8)
    for i, ws in toks.items():
        lps = [r8(math.log(uni[ws[0]] / n))]
        for j in range(1, len(ws)):
            key = (ws[j - 1], ws[j])
            if key in bi:
                lps.append(r8(math.log(bi[key] / uni[ws[j - 1]])))
            else:
                lps.append(r8(math.log(0.4 * uni[ws[j]] / n)))
        avg = round(round(sum(lps) / len(lps), 8), 4)
        ppl = round(round(math.exp(-avg), 8), 4)
        assert got[i] == (len(lps), avg, ppl), i


def test_passage_dedup_matches_pure_python_mirror(spark):
    """Third-implementation differential for passage dedup: a pure-
    python mirror of the first-(doc, position)-occurrence rule must
    reproduce every clean_text on seeded random documents with a tiny
    vocabulary (so cross-doc and within-doc passage collisions are
    frequent)."""
    import random

    from sarfile_analyzer_ng_spark.functions import dedup as D

    rng = random.Random(13)
    vocab = ["a", "b", "c"]
    P = 3
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(1, 14))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_passages"], r["n_dropped"], r["clean_text"])
           for r in D.passage_dedup(df, "text", "doc_id",
                                    passage_words=P).collect()}

    seen = set()
    for i, t in docs:  # ascending doc id == ascending encoded key
        w = t.split()
        n_pass = max(1, -(-len(w) // P))
        kept, dropped = [], 0
        for idx in range(n_pass):
            p = " ".join(w[idx * P: idx * P + P])
            if p in seen:
                dropped += 1
            else:
                seen.add(p)
                kept.append(p)
        assert got[i] == (n_pass, dropped, " ".join(kept)), i


def test_png_unfilter_differential_vs_ppm():
    """Differential fuzz for the PNG decoder (no Spark needed): many
    random geometries × color types × per-row filter choices, each
    encoded as netpbm and as PNG — decoded luminance planes must be
    identical. Catches unfilter recurrence bugs a single fixture
    would miss."""
    from sarfile_analyzer_ng_spark.functions import multimodal as MM

    from .test_sources_extra import _png_encode

    rng = np.random.default_rng(123)
    for trial in range(25):
        h = int(rng.integers(1, 12))
        w = int(rng.integers(1, 12))
        color_type = int(rng.choice([0, 2]))
        ch = 3 if color_type == 2 else 1
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        filters = [int(f) for f in rng.integers(0, 5, size=h)]
        magic = b"P6" if ch == 3 else b"P5"
        ppm = magic + f"\n{w} {h}\n255\n".encode() + px.tobytes()
        png = _png_encode(px, color_type, filters)
        wa, ha, lum_a = MM.decode_ppm(ppm)
        wb, hb, lum_b = MM.decode_png(png)
        assert (wa, ha) == (wb, hb) == (w, h), (trial, filters)
        assert np.array_equal(lum_a, lum_b), (trial, h, w, color_type, filters)


def test_decontaminate_spans_matches_bruteforce_substring_scan(spark):
    """r8 differential for q122: an INDEPENDENT pure-python reference
    computes leaked positions by literal token-tuple containment (no
    hashing, no windows) — positions whose k-gram occurs verbatim in
    any eval doc, merged into runs, cut when the covered token range
    reaches min_tokens. The operator's per-doc cut counts and
    rebuilt text must match on seeded corpora with planted shared
    spans."""
    import random

    from sarfile_analyzer_ng_spark.functions import dedup as D

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(60)]
    K, MIN = 4, 7

    def doc(n):
        return [rng.choice(vocab) for _ in range(n)]

    eval_docs = [doc(rng.randint(8, 20)) for _ in range(5)]
    train_docs = []
    for i in range(40):
        t = doc(rng.randint(10, 40))
        if i % 3 == 0:  # plant a verbatim eval slice mid-document
            ev = rng.choice(eval_docs)
            a = rng.randint(0, max(0, len(ev) - MIN - 1))
            b = min(len(ev), a + rng.randint(MIN, MIN + 6))
            pos = rng.randint(0, len(t))
            t = t[:pos] + ev[a:b] + t[pos:]
        train_docs.append(t)

    # independent reference: literal k-gram containment
    ev_grams = set()
    for ev in eval_docs:
        for i in range(len(ev) - K + 1):
            ev_grams.add(tuple(ev[i:i + K]))

    expected = {}
    for did, t in enumerate(train_docs):
        hits = [i for i in range(len(t) - K + 1)
                if tuple(t[i:i + K]) in ev_grams]
        runs, cur = [], None
        for p in hits:
            if cur and p == cur[1] + 1:
                cur[1] = p
            else:
                if cur:
                    runs.append(cur)
                cur = [p, p]
        if cur:
            runs.append(cur)
        cuts = [(a, b + K) for a, b in runs if (b + K - a) >= MIN]
        kept = [w for i, w in enumerate(t)
                if not any(a <= i < e for a, e in cuts)]
        expected[did] = (" ".join(kept), len(t) - len(kept), len(cuts))

    train = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(train_docs)],
        "doc_id long, text string",
    )
    ev_df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(eval_docs)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           D.decontaminate_spans(train, ev_df, "text", "doc_id",
                                 k=K, min_tokens=MIN).collect()}
    assert set(got) == set(expected)
    for did, (txt, ncut, nspans) in expected.items():
        r = got[did]
        assert r["text_clean"] == txt, did
        assert r["n_cut_tokens"] == ncut, did
        assert r["n_spans_cut"] == nspans, did


# Inputs where counting by length differences could drift from
# regexp_count: empty, NULL and whitespace-only rows, every Java \s
# character in runs (\x0B, tab, CRLF, form feed), NBSP and U+3000
# (not Java \s), an emoji surrogate pair (one code point for length
# and for [^...]), CJK, punctuation runs, uppercase stopwords, digits.
QUALITY_EDGE_TEXTS = [
    "", None, "   ", " \t \r\n ", "\x0b", "a\x0b\x0bb c", "\t\tx\t\ty\t",
    "line one\r\n\r\nline two\r\n", "p\fq \f\f r",
    "a\u00a0b\u3000c", " \u00a0\u3000", "\u3000\u3000the\u3000cat",
    "hi \U0001F600 there \U0001F600\U0001F600", "\U0001F600",
    "中文文本，测试。 还有 the 汉字", "wow!!! really!!! ?!?!", "!!!",
    "THE And of To IN is That FOR With WAS", "The the THE",
    "123 4567 89 0", "a1-b2_c3 (d4) [e5] {f6}", "x" * 400 + " the" * 60,
]


def test_quality_score_matches_regexp_count_formulation(spark):
    """quality_score projects its raw counts once and counts the
    whitespace and punctuation classes as length differences; every
    output column must be bit-identical to the straightforward
    regexp_count formulation it replaced, built inline here."""
    from pyspark.sql import functions as F

    from sarfile_analyzer_ng_spark.functions import text as TX

    from .conftest import SF_DIR

    edge = spark.createDataFrame(
        list(enumerate(QUALITY_EDGE_TEXTS)), "doc_id long, text string")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source")
    for df in (edge, docs):
        t = F.col("text")
        n_chars = F.length(t).cast("double")
        n_words = F.regexp_count(t, F.lit(r"\S+")).cast("double")
        n_punct = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")).cast("double")
        n_stop = F.regexp_count(
            F.lower(t), F.lit(TX.LANG_PATTERNS["en"])).cast("double")
        word_chars = n_chars - F.regexp_count(t, F.lit(r"\s")).cast("double")
        mwl = F.when(n_words > 0, word_chars / n_words).otherwise(0.0)
        pr = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
        sr = F.when(n_words > 0, n_stop / n_words).otherwise(0.0)
        score = (F.least(n_words / 50.0, F.lit(1.0)) * 0.4
                 + F.least(sr * 5.0, F.lit(1.0)) * 0.4
                 + (1.0 - F.least(pr * 10.0, F.lit(1.0))) * 0.2)
        ref = df.select(
            *df.columns,
            n_words.cast("long").alias("n_words"),
            F.round(mwl, 4).alias("mean_word_len"),
            F.round(pr, 4).alias("punct_ratio"),
            F.round(sr, 4).alias("stopword_ratio"),
            F.round(score, 4).alias("quality"),
        )
        got = TX.quality_score(df, "text")
        assert got.columns == ref.columns  # inputs in order, no helpers
        # repr: bit-identical doubles, -0.0 included
        exp = {r["doc_id"]: repr(tuple(r)) for r in ref.collect()}
        assert exp == {r["doc_id"]: repr(tuple(r)) for r in got.collect()}
