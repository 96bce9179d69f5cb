"""LLM-pipeline operators: planted duplicates must be found, LSH must
agree with brute force on easy neighbors, text features must match
hand-computed values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.functions import text as TX

from .conftest import SF_DIR

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different text about spark query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    out = D.exact_dedup(docs_df(spark), "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3]


def test_minhash_finds_planted_neighbors(spark):
    pairs = D.minhash_lsh_pairs(docs_df(spark), "text", "doc_id", shingle_n=3)
    found = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert found[(1, 4)] == 1.0           # exact dup → identical signatures
    assert found.get((1, 2), 0.0) > 0.5   # near dup shares most shingles
    assert (1, 3) not in found or found[(1, 3)] < 0.2


def test_simhash_near_pairs(spark):
    # 8-bit bands: pigeonhole guarantees recall for hamming ≤ 7
    pairs = D.simhash_near_pairs(docs_df(spark), "text", "doc_id",
                                 max_hamming=7, band_bits=8)
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert found[(1, 4)] == 0
    assert found[(1, 2)] <= 7  # measured hamming(1,2) == 6
    assert (1, 3) not in found  # hamming(1,3) == 35
    D.release(pairs)


def test_simhash_empty_docs_get_zero(spark):
    df = spark.createDataFrame(
        [(1, "real text here"), (2, None), (3, "")], "doc_id long, text string"
    )
    sigs = {r["doc"]: r["simhash"] for r in D.simhash(df, "text", "doc_id").collect()}
    assert set(sigs) == {1, 2, 3}
    assert sigs[2] == 0 and sigs[3] == 0 and sigs[1] != 0


def test_ngram_jaccard_exact_values(spark):
    pairs = D.ngram_jaccard_pairs(docs_df(spark), "text", "doc_id", threshold=0.3)
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert found[(1, 4)] == 1.0
    # 13 words → 11 shingles; docs 1/2 differ in the last word → one
    # shingle differs: inter=10, union=12
    assert found[(1, 2)] == round(10 / 12, 4)



def test_lsh_jaccard_matches_exact(spark):
    """The LSH-prefiltered composition must reproduce the exact
    jaccard pair set on the gate corpus (deterministic hashes; all
    qualifying pairs sit well above the banding S-curve knee)."""
    from sarfile_analyzer_ng_spark.queries import _planted_corpus, JACCARD_TAU
    corpus = _planted_corpus(spark, "/root/testdata/sf0.001")
    exact = D.ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=JACCARD_TAU)
    lsh = D.lsh_jaccard_pairs(corpus, "text", "doc_id", threshold=JACCARD_TAU)
    a = {tuple(r) for r in exact.collect()}
    b = {tuple(r) for r in lsh.collect()}
    assert a == b and len(a) > 0
    D.release(exact)
    D.release(lsh)


def test_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 5)
    brute = S.ann_topk_bruteforce(emb, queries, "vec_id", "embedding", k=3)
    lsh = S.ann_topk_lsh(emb, queries, "vec_id", "embedding", dim=64, k=3,
                         num_planes=2)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    l = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    # These embeddings are weakly clustered (max cosine ~0.5), a hard
    # case for hyperplane LSH: 2 planes / ~1/4 corpus per bucket; demand
    # non-trivial overlap with exact top-3, not perfection.
    assert len(b & l) >= len(b) // 3


def test_lang_id_on_real_language_samples(spark):
    samples = [
        (1, "the cat and the dog sat in the house for the winter", "en"),
        (2, "der hund und die katze sind nicht in das haus gegangen", "de"),
        (3, "el perro y la gata de la casa que es grande", "es"),
        (4, "le chien et la chatte dans les maisons pour qui est", "fr"),
        (5, "这是一个中文句子没有空格", "zh"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, lang string")
    out = TX.lang_id(df, "text")
    assert all(r["pred_lang"] == r["lang"] for r in out.collect())


def test_token_counts_hand_checked(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "id long, text string")
    row = TX.token_counts(df, "text").collect()[0]
    assert row["n_ws_tokens"] == 4
    # Hello , world ! 4 2 times → letters runs:3, digits:2, punct:2
    assert row["n_bpe_tokens"] == 7


def test_pii_scan_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "call 555-123-4567 or mail a.b@x.co from 10.0.3.1 ref 123-45-6789"),
            (2, "no personal data here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TX.pii_scan(df, "text").collect()}
    hit = rows[1]
    assert (hit["n_emails"], hit["n_phones"], hit["n_ids"], hit["n_ips"]) == (1, 1, 1, 1)
    assert hit["has_pii"] == 1
    assert hit["pii_redacted"] == "call <PHONE> or mail <EMAIL> from <IP> ref <ID>"
    clean = rows[2]
    assert clean["has_pii"] == 0 and clean["pii_redacted"] == clean["text"]


def test_repetition_signals_hand_checked(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, "w1 w2 w3 w4")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TX.repetition_signals(df, "text", "doc_id").collect()}
    r1 = rows[1]  # words a,a,b; bigrams "a a","a b"
    assert r1["n_words"] == 3
    assert r1["uniq_word_ratio"] == round(2 / 3, 4)
    assert r1["top_word_frac"] == round(2 / 3, 4)
    assert r1["dup_word_frac"] == round(2 / 3, 4)
    assert r1["top_bigram_frac"] == 0.5
    r2 = rows[2]  # single word: no bigrams → frac 0.0
    assert r2["n_words"] == 1 and r2["top_bigram_frac"] == 0.0
    r3 = rows[3]  # all unique
    assert r3["uniq_word_ratio"] == 1.0 and r3["dup_word_frac"] == 0.0
    assert r3["top_bigram_frac"] == round(1 / 3, 4)


def test_fingerprint_md5(spark):
    import hashlib

    df = spark.createDataFrame([(1, "abc")], "id long, text string")
    row = TX.fingerprint(df, "text", "id").collect()[0]
    assert row["md5"] == hashlib.md5(b"abc").hexdigest()
    assert row["n_chars_fp"] == 3 and row["prefix16"] == "abc"


def test_ngram_jaccard_max_df_cap(spark):
    # plant a hot shingle shared by ALL docs plus one true near-dup pair
    docs = [
        (i, f"common filler words here unique{i} token{i} more{i} text{i}")
        for i in range(1, 21)
    ]
    docs.append((100, "totally separate sentence about spark shuffles okay"))
    docs.append((101, "totally separate sentence about spark shuffles fine"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = D.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.3, max_df=5)
    found = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in found          # true near-dups survive the cap
    # the hot "common filler words here" shingles are dropped, so the
    # filler docs (jaccard only via shared prefix) produce no pairs
    assert not any(a <= 20 and b <= 20 for a, b in found)


def test_stratified_sample_fractions_and_determinism(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    a = TX.stratified_sample(docs, "source", "doc_id", fr)
    b = TX.stratified_sample(docs, "source", "doc_id", fr)
    got = {r["doc_id"] for r in a.select("doc_id").collect()}
    assert got == {r["doc_id"] for r in b.select("doc_id").collect()}  # stable
    per = {r["source"]: r["n"] for r in
           a.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_src0 = docs.where(F.col("source") == "src0").count()
    assert per.get("src0") == n_src0            # fraction 1.0 keeps all
    assert "src2" not in per                    # fraction 0.0 drops all
    assert set(per) <= {"src0", "src1"}         # unlisted strata dropped
    n_src1 = docs.where(F.col("source") == "src1").count()
    assert 0 < per.get("src1", 0) < n_src1      # strictly thinned


def test_knn_classify_majority_and_tiebreak(spark):
    # 4 corpus points on two axes: labels 1,1 near +x, 2 near -x;
    # query at +x must take label 1 by majority (k=3)
    rows = [
        (1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1), (3, [-1.0, 0.0], 2),
        (4, [0.8, 0.2], 2), (10, [1.0, 0.05], 9),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long")
    queries = emb.where(F.col("vec_id") == 10)
    out = S.knn_classify(emb, queries, "vec_id", "embedding", "label", k=3)
    got = out.collect()
    assert len(got) == 1
    assert got[0]["pred_label"] == 1 and got[0]["votes"] == 2
    # tie at k=4 (2 votes each label) -> smaller label wins
    out2 = S.knn_classify(emb, queries, "vec_id", "embedding", "label", k=4)
    r2 = out2.collect()[0]
    assert r2["pred_label"] == 1 and r2["votes"] == 2


def test_mix_weights_target_sources_only(spark):
    # contract: sources absent from targets are excluded entirely,
    # and shares/weights are computed over the listed sources only
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    targets = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    w = TX.source_mix_weights(docs, "source", "text", targets).collect()
    assert {r["source"] for r in w} == set(targets)
    assert abs(sum(r["token_share"] for r in w) - 1.0) < 1e-6
    assert max(r["sample_weight"] for r in w) == 1.0
    assert all(0.0 < r["sample_weight"] <= 1.0 for r in w)


def test_mix_apply_hits_targets_within_tolerance(spark):
    # closed loop: the computed sample_weights, fed through the
    # deterministic sampler, must land the token mix near MIX_TARGETS
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "text")
    targets = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    out = TX.apply_mix_weights(docs, "source", "doc_id", "text", targets)
    rows = out.collect()
    assert {r["source"] for r in rows} == set(targets)
    assert abs(sum(r["achieved_share"] for r in rows) - 1.0) < 1e-5
    # sampling noise at sf0.001 (~hundreds of docs/source) dominates;
    # 5pp tolerance catches wrong-denominator / wrong-ratio bugs while
    # staying robust to hash-bucket variance
    for r in rows:
        assert abs(r["share_err"]) < 0.05, (r["source"], r["share_err"])


def test_dup_clusters_transitive_chain(spark):
    # chain 1-2, 2-3 plus separate pair 10-11: transitive closure must
    # put {1,2,3} in one cluster with rep 1 (needs >1 propagation
    # round), {10,11} with rep 10
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    got = {(r["doc_id"], r["rep"]) for r in D.dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_dedup_apply_keeps_representatives_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    kept = D.dedup_apply(docs, D.dup_clusters(pairs), "doc_id")
    # reps 1 and 10 survive; singleton 99 untouched; members 2,3,11 dropped
    assert {r["doc_id"] for r in kept.collect()} == {1, 10, 99}


def test_quality_filter_rules_hand_checked(spark):
    rows = [
        # healthy: 24 distinct-ish words with English stopwords
        (1, "the cat sat on the mat and the dog ran to the park for a "
            "walk that was long and good in the warm sun today"),
        # too short
        (2, "tiny doc"),
        # repetitive spam: one bigram dominates
        (3, " ".join(["buy now"] * 30)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           TX.quality_filter(df, "text", "doc_id").collect()}
    assert got[1]["keep"] == 1
    assert got[2]["keep"] == 0 and got[2]["ok_words"] == 0
    assert got[3]["keep"] == 0 and got[3]["ok_repetition"] == 0
    assert got[1]["pred_lang"] == "en"


def test_chunk_documents_windows_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "short doc")],
                               "doc_id long, text string")
    out = TX.chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=2)
    got = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: 10 words, stride 2 -> ceil((10-2)/2) = 4 chunks
    assert sum(1 for k in got if k[0] == 1) == 4
    assert got[(1, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert got[(1, 1)]["chunk_text"] == "w2 w3 w4 w5"   # 2-token overlap
    assert got[(1, 3)]["chunk_text"] == "w6 w7 w8 w9"
    # doc 2: shorter than one chunk -> exactly one short chunk
    assert sum(1 for k in got if k[0] == 2) == 1
    assert got[(2, 0)]["chunk_text"] == "short doc"
    assert got[(2, 0)]["n_chunk_tokens"] == 2


def test_kmeans_lloyd_exact_separates_clusters(spark):
    # two tight, well-separated direction clusters; k=2 with
    # smallest-id seeds (one seed per cluster: ids 1 and 2)
    rows = [
        (1, [1.0, 0.0, 0.1, 0.0]), (2, [0.0, 1.0, 0.0, 0.1]),
        (3, [0.9, 0.1, 0.1, 0.0]), (4, [0.1, 0.9, 0.0, 0.1]),
        (5, [1.0, 0.1, 0.0, 0.0]), (6, [0.0, 1.1, 0.1, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.kmeans_lloyd_exact(emb, "vec_id", "embedding", k=2, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got[1] == got[3] == got[5]
    assert got[2] == got[4] == got[6]
    assert got[1] != got[2]


def test_pack_sequences_layout_invariants(spark):
    # one shard so the whole layout is one deterministic stream
    rows = [(1, 0, 50), (1, 1, 50), (2, 0, 60), (3, 0, 40)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n long")
    out = TX.pack_sequences(chunks, ["doc_id", "chunk_id"], "n",
                            capacity=128, num_shards=1)
    got = sorted((r["doc_id"], r["chunk_id"], r["seq_id"], r["seq_offset"])
                 for r in out.collect())
    # cumulative starts: 0, 50, 100, 160 -> seq 0,0,0,1; offsets mod 128
    assert got == [(1, 0, 0, 0), (1, 1, 0, 50), (2, 0, 0, 100),
                   (3, 0, 1, 32)]
    # offsets always < capacity; seq ids non-decreasing in stream order
    assert all(o < 128 for *_, o in got)


def test_chunk_documents_reconstruction_property(spark):
    # with overlap=0, concatenating a doc's chunks in chunk_id order
    # must reproduce its exact token stream — no token lost or
    # duplicated at any boundary, for lengths around every boundary
    docs = [(n, " ".join(f"t{n}_{i}" for i in range(n)))
            for n in (1, 3, 4, 5, 7, 8, 9, 16, 17)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = TX.chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=0)
    rows = sorted(((r["doc_id"], r["chunk_id"], r["chunk_text"])
                   for r in out.collect()))
    rebuilt = {}
    for doc_id, _, chunk in rows:
        rebuilt[doc_id] = (rebuilt.get(doc_id, "") + " " + chunk).strip()
    for n, text in docs:
        assert rebuilt[n] == text, n


def test_pack_sequences_offsets_are_consistent(spark):
    # within every (shard, seq), offsets must start at the running
    # total mod capacity and advance by each chunk's token count
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    chunks = TX.chunk_documents(docs, "text", "doc_id",
                                chunk_tokens=32, overlap=8)
    packed = TX.pack_sequences(chunks, ["doc_id", "chunk_id"],
                               "n_chunk_tokens", capacity=128, num_shards=8)
    rows = packed.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 8
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r["doc_id"], r["chunk_id"]))
        cum = 0
        for r in rs:
            assert r["seq_id"] == cum // 128
            assert r["seq_offset"] == cum % 128
            cum += r["n_tokens"]


def test_release_leaves_shared_shingle_frame_cached(spark):
    # operators given an externally-owned shingle frame must NOT
    # unpersist it on release() — it is shared across the dedup family
    df = docs_df(spark)
    sh = D.shingle_hash_rows(df, "text", "doc_id").cache()
    sh.count()
    jac = D.ngram_jaccard_pairs(df, "text", "doc_id", shingles=sh)
    jac.count()
    D.release(jac)
    assert sh.storageLevel.useMemory  # still cached
    lsh = D.lsh_jaccard_pairs(df, "text", "doc_id", shingles=sh)
    lsh.count()
    D.release(lsh)
    assert sh.storageLevel.useMemory
    # owned path still cleans up after itself
    jac2 = D.ngram_jaccard_pairs(df, "text", "doc_id")
    jac2.count()
    internal = jac2._cached_inputs[0]
    assert internal.storageLevel.useMemory
    D.release(jac2)
    assert not internal.storageLevel.useMemory
    sh.unpersist()


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    rows = [(1, [0.0, 0.5, 1.0, -1.0]), (2, [2.0, 2.0, 2.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in
           S.quantize_embeddings(emb, "vec_id", "embedding").collect()}
    q1, s1, z1 = got[1]["q"], got[1]["scale"], got[1]["zero"]
    # dequantized values within half a step of the originals (plus the
    # carried error of the 8-decimal-rounded scale, <= code * 5e-9)
    for code, x in zip(q1, [0.0, 0.5, 1.0, -1.0]):
        assert abs((code * s1 + z1) - x) <= s1 / 2 + 255 * 5e-9
    assert min(q1) == 0 and max(q1) == 255
    # constant vector: all-zero codes, scale 0, zero = the constant
    assert got[2]["q"] == [0, 0, 0, 0]
    assert got[2]["scale"] == 0.0 and got[2]["zero"] == 2.0


def test_quantized_recall_stays_high(spark):
    # int8 quantization must keep ~all of the exact top-5 neighbors
    from sarfile_analyzer_ng_spark.queries import q76_quantized_recall

    rows = q76_quantized_recall(spark, "/root/testdata/sf0.001").collect()
    avg = sum(r["n_overlap"] for r in rows) / len(rows)
    assert avg >= 4.0, avg
    assert all(r["n_overlap"] >= 3 for r in rows)


def test_winnow_guarantee_shared_substring(spark):
    """The winnowing contract (SIGMOD'03): two documents sharing a run
    of at least k + window - 1 = 6 words share at least one
    fingerprint; documents with no shared 3-gram share none."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6-word shared run
    rows = [
        (1, f"one two {shared} three four five six seven"),
        (2, f"red blue {shared} green yellow purple orange pink"),
        (3, "completely different words with no common trigram at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = D.winnow_fingerprints(df, "text", "doc_id", k=3, window=4)
    by_doc = {
        r["doc"]: set(r["fps"])
        for r in fps.groupBy("doc").agg(F.collect_set("fp").alias("fps")).collect()
    }
    assert by_doc[1] & by_doc[2]          # guarantee: shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # no shared trigram -> none
    assert not (by_doc[2] & by_doc[3])


def test_winnow_density_and_short_docs(spark):
    """Fingerprints ≈ the 2/(w+1) winnowing density, and documents too
    short for one complete window produce no fingerprints."""
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(5000)}" for _ in range(400)]
    rows = [(1, " ".join(words)), (2, "too short doc"), (3, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = D.winnow_fingerprints(df, "text", "doc_id", k=3, window=4)
    counts = {r["doc"]: r["n"] for r in
              fps.groupBy("doc").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_grams = 400 - 2
    assert 0.25 * n_grams <= counts[1] <= 0.55 * n_grams  # ~2/(w+1)=0.4
    assert 2 not in counts          # 1 gram < window -> no complete window
    assert counts.get(3, 0) >= 1    # 4 grams = exactly one window


def test_decontaminate_winnow_contiguous_only(spark):
    """Winnow decontamination flags verbatim contiguous copying (≥
    k+window-1 = 6 shared words) and, unlike shingle-set overlap,
    stays quiet for scattered vocabulary reuse."""
    leak = "the quick brown fox jumps over"
    ev = spark.createDataFrame(
        [(100, f"eval question about {leak} and lazy dogs everywhere")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, f"train doc copying {leak} verbatim plus extra words here"),
            # same vocabulary, never 3 words in a row in eval order
            (2, "quick the fox brown over jumps dogs lazy and everywhere "
                "about question eval extra"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_shared_fps"]
           for r in D.decontaminate_winnow(tr, ev, "text", "doc_id").collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


def test_winnow_guarantee_randomized(spark):
    """Randomized property check of the winnowing guarantee: for 60
    generated pairs, two documents embedding the same run of
    6-12 words (each with otherwise doc-unique vocabulary) must share
    a fingerprint, and fully-unique documents never do. One Spark pass
    evaluates every pair."""
    import random

    rng = random.Random(99)
    rows, expect_share = [], {}
    doc_id = 0
    for i in range(60):
        run_len = rng.randrange(6, 13)
        shared = [f"s{i}x{j}" for j in range(run_len)]
        positive = rng.random() < 0.5
        pair = []
        for side in range(2):
            n_pre = rng.randrange(0, 15)
            n_post = rng.randrange(0, 15)
            words = (
                [f"d{doc_id}p{j}" for j in range(n_pre)]
                + (shared if positive or side == 0 else
                   [f"d{doc_id}q{j}" for j in range(run_len)])
                + [f"d{doc_id}t{j}" for j in range(n_post)]
            )
            rows.append((doc_id, " ".join(words)))
            pair.append(doc_id)
            doc_id += 1
        expect_share[tuple(pair)] = positive
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = D.winnow_fingerprints(df, "text", "doc_id", k=3, window=4)
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc"], set()).add(r["fp"])
    for (a, b), positive in expect_share.items():
        shared_fps = by_doc.get(a, set()) & by_doc.get(b, set())
        if positive:
            assert shared_fps, f"pair ({a},{b}) shares a 6+ run but no fp"
        else:
            assert not shared_fps, f"pair ({a},{b}) disjoint but shares fp"


def test_ngram_jaccard_maxdf_releases_the_cached_frame(spark):
    """The owns_cache path with max_df: release() must unpersist the
    frame that was actually cached (pre-anti-join shingles), not the
    derived uncached one — the r4 leak ADVICE flagged."""
    rows = [(i, "common words everywhere " + " ".join(f"u{i}x{j}" for j in range(6)))
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.ngram_jaccard_pairs(df, "text", "doc_id", shingle_n=3,
                                threshold=0.0, max_df=3)
    out.count()
    cached = out._cached_inputs
    assert len(cached) == 1
    assert cached[0].storageLevel.useMemory     # the truly cached frame
    D.release(out)
    assert not cached[0].storageLevel.useMemory  # actually unpersisted


def test_dup_clusters_warns_on_non_convergence(spark, caplog):
    """A label chain longer than max_iter cannot reach the fixpoint:
    dup_clusters must log a warning instead of silently returning
    unconverged representatives."""
    import logging

    chain = [(i, i + 1) for i in range(1, 8)]   # path graph, diameter 7
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with caplog.at_level(logging.WARNING,
                         logger="sarfile_analyzer_ng_spark.functions.dedup"):
        out = D.dup_clusters(pairs, max_iter=2).collect()
    assert any("max_iter" in r.message for r in caplog.records)
    assert len(out) == 8
    # and with enough rounds the same graph converges quietly
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="sarfile_analyzer_ng_spark.functions.dedup"):
        ok = D.dup_clusters(pairs, max_iter=10).collect()
    assert not caplog.records
    assert {r["rep"] for r in ok} == {1}


def test_semdedup_prune_matches_numpy_reference(spark):
    # decouple pruning from clustering: hand the operator an explicit
    # assignment, then recompute the expected verdicts with a plain
    # numpy mirror of the documented rule (any smaller-id cluster
    # member with rounded cosine >= tau drops the larger id).
    # rows_per_chunk=4 forces the chunked-matmul path across chunks.
    import numpy as np

    rng = np.random.default_rng(0)
    base = rng.normal(size=(30, 8))
    twins = base[:5] * 0.95 + 0.02  # near-parallel to ids 0..4
    vecs = np.vstack([base, twins])
    # twin of id i gets id 102 + i: 102 ≡ 0 (mod 3), so every twin
    # shares its base's cluster under the explicit i % 3 assignment
    ids = list(range(30)) + [102 + i for i in range(5)]
    clusters = {i: i % 3 for i in ids}
    tau = 0.95

    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[j]]) for j, i in enumerate(ids)],
        "vec_id long, embedding array<double>",
    )
    assigned = spark.createDataFrame(
        [(i, clusters[i]) for i in ids], "vec_id long, cluster long"
    )
    out = S.semdedup(
        emb, "vec_id", "embedding", tau=tau,
        rows_per_chunk=4, assigned=assigned,
    )
    got = {r["vec_id"]: r["kept"] for r in out.collect()}

    m = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(np.round(m @ m.T, 8), 4)
    order = sorted(range(len(ids)), key=lambda j: ids[j])
    expect = {}
    for pj, j in enumerate(order):
        drop = any(
            clusters[ids[i]] == clusters[ids[j]] and sims[i, j] >= tau
            for i in (order[x] for x in range(pj))
        )
        expect[ids[j]] = not drop
    assert got == expect
    # every co-clustered twin must have been dropped
    assert all(not got[102 + i] for i in range(5))


def test_semdedup_end_to_end_drops_co_clustered_twins(spark):
    # full pipeline on the sf0.001 planted corpus: nothing from the
    # base corpus is ever dropped; dropped ids are all twins; recall
    # over twins is bounded only by cluster co-location (>= 0.9 here)
    from sarfile_analyzer_ng_spark.queries import (
        EMB_PLANT_OFFSET,
        q82_semdedup,
    )

    out = q82_semdedup(spark, SF_DIR).collect()
    dropped = [r["vec_id"] for r in out if not r["kept"]]
    n_twins = sum(1 for r in out if r["vec_id"] >= EMB_PLANT_OFFSET)
    assert dropped and all(i >= EMB_PLANT_OFFSET for i in dropped)
    assert len(dropped) >= 0.9 * n_twins


def test_dsir_weights_prefer_target_like_docs(spark):
    # two disjoint vocabularies: target-domain docs must score higher
    # than off-domain docs, and a mixed doc must land in between
    med = "patient dose trial clinical symptom therapy outcome"
    web = "click buy cheap deal offer shop sale discount"
    rows = [
        (1, med + " patient trial"),
        (2, med + " dose therapy"),
        (3, web + " click buy"),
        (4, web + " deal offer"),
        (5, "patient dose click buy trial deal symptom shop"),  # mixed
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = raw.where(F.col("doc_id") <= 2)
    out = TX.dsir_weights(raw, target, "text", "doc_id", n_buckets=256)
    w = {r["doc_id"]: r["logw"] for r in out.collect()}
    assert len(w) == 5
    assert min(w[1], w[2]) > w[5] > max(w[3], w[4])


def test_hashed_ngram_buckets_counts(spark):
    # "a b c" -> unigrams a, b, c + bigrams "a b", "b c" = 5 rows,
    # all buckets within range
    df = spark.createDataFrame([(7, "A b c")], "doc_id long, text string")
    rows = TX.hashed_ngram_buckets(df, "text", "doc_id", n_buckets=32).collect()
    assert len(rows) == 5
    assert all(0 <= r["b"] < 32 for r in rows)
    assert all(r["doc"] == 7 for r in rows)


def test_unigram_logprob_hand_checked(spark):
    # corpus: "a a a b" + "b c" → counts a=3, b=2, c=1, N=6.
    # vocab_size=2 keeps {a, b}; unk mass = 1 (the single "c").
    import math

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           TX.unigram_logprob(df, "text", "doc_id", vocab_size=2).collect()}
    lp = lambda num: round(round(math.log(num / 6.0), 8), 4)
    r1 = out[1]
    exp1 = round(round((3 * round(math.log(3 / 6), 8)
                        + round(math.log(2 / 6), 8)) / 4, 8), 4)
    assert (r1["n_tokens"], r1["avg_logp"]) == (4, exp1)
    r2 = out[2]  # tokens b (2/6) and unk-pooled c (1/6)
    exp2 = round(round((round(math.log(2 / 6), 8)
                        + round(math.log(1 / 6), 8)) / 2, 8), 4)
    assert (r2["n_tokens"], r2["avg_logp"]) == (2, exp2)
    assert r2["ppl"] == round(round(math.exp(-exp2), 8), 4)
    # the rare-token doc is the higher-perplexity one
    assert r2["ppl"] > r1["ppl"]


def test_cluster_top_terms_hand_checked(spark):
    # cluster 0 docs: "apple apple spark", "apple banana"
    # cluster 1 doc:  "banana banana cherry"
    # tf-idf (K=2): apple only in c0 -> 3*ln(2); banana in both -> 0;
    # cherry only in c1 -> 1*ln(2); spark only in c0 -> 1*ln(2)
    import math

    labels = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "doc_id long, cluster long"
    )
    docs = spark.createDataFrame(
        [(1, "apple apple spark"), (2, "apple banana"),
         (3, "banana banana cherry")],
        "doc_id long, text string",
    )
    out = S.cluster_top_terms(labels, docs, "doc_id", "text", top_k=2,
                              num_clusters=2)
    got = {(r["cluster"], r["rank"]): (r["term"], r["score"])
           for r in out.collect()}
    ln2 = lambda tf: round(round(tf * math.log(2.0), 8), 4)
    assert got[(0, 1)] == ("apple", ln2(3))
    assert got[(0, 2)] == ("spark", ln2(1))
    assert got[(1, 1)] == ("cherry", ln2(1))
    # banana (df=2 -> score 0) ranks below cherry in cluster 1
    assert got[(1, 2)] == ("banana", 0.0)


def test_semdedup_composes_with_ivf_assignment(spark):
    # PRODUCTION path: reuse the IVF training assignment (Arrow
    # partial-sum Lloyd, no oracle rounding) as semdedup's clustering
    # via the assigned= hook — planted near-identical twins must be
    # dropped, bases kept. Proves the pruning stage is clustering-
    # source-agnostic (paper's configuration: cluster with the same
    # index you search with).
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    twins = emb.selectExpr(
        "vec_id + 1000000 AS vec_id",
        "transform(embedding, x -> float(x * 0.9f + 0.01f)) AS embedding",
        "label",
    )
    corpus = emb.unionByName(twins).localCheckpoint(eager=True)
    cents, assigned = S.ivf_train(
        corpus, "vec_id", "embedding", k_lists=8, iters=2,
        return_assignment=True,
    )
    labels = assigned.select(
        F.col("vid").alias("vec_id"), F.col("cluster").cast("long")
    )
    out = S.semdedup(
        corpus, "vec_id", "embedding", tau=0.8, assigned=labels
    )
    rows = out.collect()
    dropped = [r["vec_id"] for r in rows if not r["kept"]]
    n_twins = sum(1 for r in rows if r["vec_id"] >= 1_000_000)
    assert dropped and all(v >= 1_000_000 for v in dropped)
    assert len(dropped) >= 0.9 * n_twins
    assigned.unpersist()


def test_logreg_learns_separable_features(spark):
    from sarfile_analyzer_ng_spark.functions import classify as C

    # deterministically separable: label 1 iff x1 > 0.5 (x2 is noise)
    rows = [
        (i, 1 if (i % 10) >= 5 else 0,
         0.8 if (i % 10) >= 5 else 0.2,
         ((i * 37) % 100) / 100.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, label int, x1 double, x2 double"
    )
    w = C.logreg_train(df, ["x1", "x2"], "label", iters=25, lr=2.0)
    scored = C.logreg_score(df, ["x1", "x2"], w)
    acc = scored.where(F.col("pred") == F.col("label")).count() / 200
    assert acc == 1.0
    # determinism: retraining yields the identical weight vector
    assert w == C.logreg_train(df, ["x1", "x2"], "label", iters=25, lr=2.0)
    # empty frame fails loudly
    with pytest.raises(ValueError, match="empty"):
        C.logreg_train(df.where(F.lit(False)), ["x1"], "label")


def test_q104_scores_are_probabilities_and_plan_is_scan_bound(spark):
    from sarfile_analyzer_ng_spark import queries as Q

    out = Q.q104_quality_classifier(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 500
    assert all(0.0 <= r["p_good"] <= 1.0 for r in rows)
    assert all(r["pred"] == (1 if r["p_good"] >= 0.5 else 0) for r in rows)
    # scoring is a pure map stage: no shuffle in the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_budget_select_greedy_prefix(spark):
    rows = [
        # (doc_id, source, text) — word counts 4/3/2; quality order is
        # driven by n_words here (longer => higher under the formula)
        (1, "a", "w w w w"),
        (2, "a", "w w w"),
        (3, "a", "w w"),
        (4, "b", "x x x x x x x x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in
           TX.budget_select(df, "text", "doc_id", "source", 7).collect()}
    # source a: quality asc with words 4 > 3 > 2 -> cum 4, 7, 9
    assert [out[i]["cum_tokens"] for i in (1, 2, 3)] == [4, 7, 9]
    assert [out[i]["kept"] for i in (1, 2, 3)] == [1, 1, 0]
    # source b: a single over-budget doc is trimmed, budgets are per source
    assert out[4]["kept"] == 0 and out[4]["cum_tokens"] == 8


def test_budget_select_approx_matches_exact_on_uniform_docs(spark):
    # round-7 directive: the documented percentile_approx escape hatch
    # for pathological source sizes — sketch agg + broadcast threshold
    # + codegen filter, no source-keyed sort. On uniform doc sizes the
    # verdicts must match the exact window within one quality-tie
    # class (the approx path never cuts mid-tie).
    rows = []
    did = 0
    for s in range(11):          # 11 quality levels via stopword count
        for _ in range(20):      # 20 docs per level, 50 words each
            did += 1
            words = ["the"] * s + [f"w{did}x{i}" for i in range(50 - s)]
            rows.append((did, "big", " ".join(words)))
    rows.append((9001, "small", "tiny doc with few words"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budget = 110 * 50            # half of big's 220x50 tokens
    exact = {r["doc_id"]: r["kept"] for r in TX.budget_select(
        df, "text", "doc_id", "source", budget).collect()}
    ap = TX.budget_select(df, "text", "doc_id", "source", budget,
                          approx=True).collect()
    approx = {r["doc_id"]: r["kept"] for r in ap}
    # an under-budget source keeps everything, with a NULL threshold
    small = next(r for r in ap if r["source"] == "small")
    assert small["kept"] == 1 and small["q_threshold"] is None
    big = [r for r in ap if r["source"] == "big"]
    # verdicts agree within one 20-doc tie class
    diff = sum(1 for r in big if approx[r["doc_id"]] != exact[r["doc_id"]])
    assert diff <= 20
    # kept token mass lands within one tie class of the budget
    kept_tokens = sum(r["n_tokens"] for r in big if r["kept"] == 1)
    assert abs(kept_tokens - budget) <= 20 * 50
    # threshold semantics: kept iff quality >= per-source threshold
    thr = {r["q_threshold"] for r in big}
    assert len(thr) == 1
    t = thr.pop()
    assert all((r["quality"] >= t) == (r["kept"] == 1) for r in big)


def test_repeated_spans_unaligned_detection(spark):
    boiler = " ".join(f"b{i}" for i in range(30))  # 30-token boilerplate
    rows = [
        (1, "u1 u2 u3 " + boiler + " t1 t2"),          # span at offset 3
        (2, "v1 " + boiler + " w1 w2 w3 w4"),          # same span, offset 1
        (3, "x1 x2 " + " ".join(f"s{i}" for i in range(10)) + " x3"),
        (4, "y1 y2 " + " ".join(f"s{i}" for i in range(10)) + " y3"),
        (5, "plain unique text with no repeats at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in D.repeated_spans(df, "text", "doc_id",
                              k=8, min_tokens=16).collect():
        got.setdefault(r["doc_id"], []).append(r)
    # the 30-token boilerplate is found in both docs at its true
    # UNALIGNED offsets — q94's aligned passages could miss this
    assert [ (r["span_start"], r["span_tokens"]) for r in got[1] ] == [(3, 30)]
    assert [ (r["span_start"], r["span_tokens"]) for r in got[2] ] == [(1, 30)]
    # the 10-token repeat stays below min_tokens=16; doc 5 is clean
    assert 3 not in got and 4 not in got and 5 not in got
    # lowering the threshold surfaces the 10-token repeat too
    low = D.repeated_spans(df, "text", "doc_id", k=8, min_tokens=10)
    assert {r["doc_id"] for r in low.collect()} == {1, 2, 3, 4}


def _brute_gram_spans(docs: dict[int, list[str]], k: int,
                      min_tokens: int) -> set[tuple[int, int, int]]:
    # 20-line reference for the operator's OWN semantics: positions
    # whose k-gram occurs >1 time globally, merged into consecutive
    # runs, extent [min_pos, max_pos + k), filtered to >= min_tokens
    from collections import Counter

    occ: Counter = Counter()
    grams: dict[int, list[tuple[str, ...]]] = {}
    for d, toks in docs.items():
        gs = [tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        grams[d] = gs
        occ.update(gs)
    out = set()
    for d, gs in grams.items():
        runs: list[list[int]] = []
        for p, g in enumerate(gs):
            if occ[g] > 1:
                if runs and runs[-1][1] == p - 1:
                    runs[-1][1] = p
                else:
                    runs.append([p, p])
        for s, e in runs:
            if e - s + k >= min_tokens:
                out.add((d, s, e - s + k))
    return out


def _occurs_at_least(docs: dict[int, list[str]],
                     needle: list[str], n: int) -> bool:
    found = 0
    for toks in docs.values():
        for i in range(len(toks) - len(needle) + 1):
            if toks[i:i + len(needle)] == needle:
                found += 1
                if found >= n:
                    return True
    return False


def test_repeated_spans_property_vs_brute_force(spark):
    # round-7 directive: differential-test the Spark plan against a
    # brute-force reference AND quantify the documented extent
    # over-merge (the one semantic gap vs Lee et al.'s suffix array).
    import random

    rng = random.Random(1234)
    k, min_tokens = 8, 16
    vocab = [f"w{i}" for i in range(60)]
    docs: dict[int, list[str]] = {}
    # 40 random-filler docs; 8-gram collisions across 60-symbol random
    # text are essentially impossible, so repeats are the planted ones
    for d in range(1, 41):
        docs[d] = [rng.choice(vocab) for _ in range(rng.randint(25, 60))]
    boiler = [f"b{i}" for i in range(20)]          # 20-token boilerplate
    for d in (3, 11, 27):                          # planted at random offsets
        off = rng.randint(0, 10)
        docs[d] = docs[d][:off] + boiler + docs[d][off:]
    short = [f"s{i}" for i in range(12)]           # below min_tokens: runs
    for d in (5, 19):                              # exist but are filtered
        docs[d] = short + docs[d]
    # the over-merge chain: doc 50 holds t0..t15; partners each hold a
    # 10-token window (t0-9, t3-12, t6-15) so every gram start 0..8 in
    # doc 50 is duplicated (with DIFFERENT partners) -> one merged
    # 16-token span whose full extent occurs only once in the corpus
    chain = [f"t{i}" for i in range(16)]
    docs[50] = chain + [rng.choice(vocab) for _ in range(20)]
    docs[51] = chain[0:10] + [rng.choice(vocab) for _ in range(20)]
    docs[52] = chain[3:13] + [rng.choice(vocab) for _ in range(20)]
    docs[53] = chain[6:16] + [rng.choice(vocab) for _ in range(20)]

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["span_start"], r["span_tokens"])
           for r in D.repeated_spans(df, "text", "doc_id",
                                     k=k, min_tokens=min_tokens).collect()}
    # 1) the Spark plan IS the brute-force gram-run semantics
    assert got == _brute_gram_spans(docs, k, min_tokens)
    # 2) detection completeness: every planted >= min_tokens repeat is
    # fully covered by an emitted span
    for d in (3, 11, 27):
        start = docs[d].index("b0")
        cover = [s for dd, s, L in got
                 if dd == d and s <= start and s + L >= start + len(boiler)]
        assert cover, f"planted boilerplate uncovered in doc {d}"
    # 3) below-threshold repeats emit nothing
    assert not any(dd in (5, 19) for dd, _, _ in got)
    # 4) extent exactness: quantify the over-merge rate — every span
    # must repeat in full EXCEPT doc 50's chain (grams duplicated with
    # different partners), which is exactly the documented over-merge
    overmerged = [
        (dd, s, L) for dd, s, L in got
        if not _occurs_at_least(docs, docs[dd][s:s + L], 2)
    ]
    assert overmerged == [(50, 0, 16)]
    # 5) the partners' own 10-token runs stay below min_tokens: the
    # over-merge inflates EXTENT only, never invents detections
    assert not any(dd in (51, 52, 53) for dd, _, _ in got)


def test_repeated_spans_cut_keeps_first_occurrence(spark):
    boiler = " ".join(f"B{i}" for i in range(20))  # preserves CASE
    rows = [
        (1, "u1 u2 " + boiler),                  # first occurrence
        (2, "v1 " + boiler + " v2"),             # cut here
        (3, boiler + " z1 z2 z3"),               # cut here too
        (4, "clean text that repeats nothing at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.repeated_spans_cut(
        df, "text", "doc_id", k=8, min_tokens=16).collect()}
    # the smallest (doc, pos) occurrence survives with original case
    assert out[1]["text_clean"] == "u1 u2 " + boiler
    assert out[1]["n_cut_tokens"] == 0
    # later occurrences are cut, surrounding text survives
    assert out[2]["text_clean"] == "v1 v2"
    assert out[2]["n_cut_tokens"] == 20 and out[2]["n_spans_cut"] == 1
    assert out[3]["text_clean"] == "z1 z2 z3"
    assert out[4]["text_clean"] == rows[3][1]
    # global token accounting: exactly 2 copies x 20 tokens removed
    assert sum(r["n_cut_tokens"] for r in out.values()) == 40


def test_repeated_spans_cut_partial_copy_still_keeps_one(spark):
    # Regression (round-7 ADVICE): the opening gram's GLOBAL first
    # occurrence lies in doc 1, whose duplicated run (15 tokens) is
    # below min_tokens and so emits NO span. The old keeper test
    # compared spans against that raw-gram argmin and matched nothing,
    # cutting EVERY full occurrence of the boilerplate — data loss.
    # The keeper must come from the emitted spans themselves.
    boiler = " ".join(f"B{i}" for i in range(20))
    partial = " ".join(f"B{i}" for i in range(15))  # < min_tokens=16
    rows = [
        (1, "p1 p2 " + partial),      # earliest gram occurrence, no span
        (2, "q1 " + boiler + " q2"),  # min (doc, span_start) emitted span
        (3, boiler + " r1"),          # later family member -> cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.repeated_spans_cut(
        df, "text", "doc_id", k=8, min_tokens=16).collect()}
    # the below-threshold partial copy is untouched
    assert out[1]["n_cut_tokens"] == 0
    # exactly one FULL span survives: doc 2's (the family's min span)
    assert out[2]["text_clean"] == "q1 " + boiler + " q2"
    assert out[2]["n_cut_tokens"] == 0
    assert out[3]["text_clean"] == "r1"
    assert out[3]["n_cut_tokens"] == 20 and out[3]["n_spans_cut"] == 1


def test_repeated_spans_cut_midrun_first_occurrence_keeps_one(spark):
    # Regression (round-7 ADVICE, second failure shape): docs 1/2
    # share a LONGER merged run (prefix + boilerplate) while doc 3 has
    # only the boilerplate. Doc 3's opening gram first occurs MID-RUN
    # in doc 1 — no span starts there, so the old logic cut doc 3's
    # span but kept none of its family. New contract: doc 3's family
    # (keyed by ITS opening gram) keeps its own min emitted span.
    pre = " ".join(f"C{i}" for i in range(10))
    boiler = " ".join(f"B{i}" for i in range(20))
    rows = [
        (1, "z1 z2 " + pre + " " + boiler),  # merged 30-token run at 2
        (2, pre + " " + boiler + " z3"),     # same run at 0 -> cut
        (3, boiler + " z4"),                 # separate family, kept
        (4, "w1 " + boiler + " w2"),         # doc 3's family -> cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.repeated_spans_cut(
        df, "text", "doc_id", k=8, min_tokens=16).collect()}
    assert out[1]["n_cut_tokens"] == 0           # family keeper (1, 2)
    assert out[2]["text_clean"] == "z3"
    assert out[3]["n_cut_tokens"] == 0           # family keeper (3, 0)
    assert out[3]["text_clean"] == boiler + " z4"
    assert out[4]["text_clean"] == "w1 w2"


def _ref_bpe(word_counts, num_merges):
    # 20-line reference BPE (Sennrich et al. 2016) — ground truth for
    # the distributed trainer: count DESC, pair ASC tie-break
    vocab = {tuple(w): c for w, c in word_counts.items()}
    out = []
    for _ in range(num_merges):
        pc = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
        if not pc:
            break
        mx = max(pc.values())
        a, b = min(p for p, c in pc.items() if c == mx)
        out.append((a, b, mx))
        nv = {}
        for syms, c in vocab.items():
            s, i, res = list(syms), 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            nv[tuple(res)] = nv.get(tuple(res), 0) + c
        vocab = nv
    return out


def test_bpe_train_matches_reference(spark):
    from collections import Counter

    rows = [(1, "low lower lowest low low"), (2, "new newer newest new")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = TX.bpe_train(df, "text", num_merges=6)
    wc = Counter(w for _, t in rows for w in t.lower().split())
    assert got == _ref_bpe(wc, 6)
    # and on the real sf corpus: distributed == reference, exactly
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got2 = TX.bpe_train(docs, "text", num_merges=5)
    wc2 = Counter(
        w for r in docs.select("text").collect()
        for w in r["text"].lower().split() if w
    )
    assert got2 == _ref_bpe(wc2, 5)


def test_bpe_train_batched_matches_sequential(spark):
    # batched merge selection (the V/B-round-trip scale path) must
    # reproduce the exact sequential (batch=1) merge table on the gate
    # corpus — the disjointness rule defers every stale-count pair to
    # the next recount
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seq = TX.bpe_train(docs, "text", num_merges=12)
    for b in (4, 8, 64):
        assert TX.bpe_train(docs, "text", num_merges=12, batch=b) == seq, b
    # q90's EXACT configuration (batch=16, num_merges=10) at the
    # driver's correctness scale — q90 is rows-only, so this is the
    # check that its batched table equals the sequential one
    docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert TX.bpe_train(docs01, "text", num_merges=10, batch=16) == \
        TX.bpe_train(docs01, "text", num_merges=10)
    # batch larger than num_merges caps cleanly
    small = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    assert TX.bpe_train(small, "text", num_merges=3, batch=16) == \
        TX.bpe_train(small, "text", num_merges=3)


def test_bpe_train_matches_reference_on_random_corpora(spark):
    # three seeded random word-soups: the distributed trainer must
    # equal the reference implementation exactly on each
    import random
    from collections import Counter

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        alphabet = "abcdef"
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(60)
        ]
        docs = [
            (i, " ".join(rng.choices(words, k=rng.randint(3, 12))))
            for i in range(8)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = TX.bpe_train(df, "text", num_merges=4)
        wc = Counter(w for _, t in docs for w in t.split())
        assert got == _ref_bpe(wc, 4), f"seed {seed}"


def test_eval_containment_hand_checked(spark):
    # eval doc: "a b c d" -> shingles {"a b c", "b c d"}
    # train 1: "a b c d e" -> {"a b c","b c d","c d e"}: 2/3 hit
    # train 2: "x y z w"   -> {"x y z","y z w"}: 0 hit
    ev = spark.createDataFrame([(100, "a b c d")], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           D.eval_containment(tr, ev, "text", "doc_id").collect()}
    assert (got[1]["n_shingles"], got[1]["n_hits"]) == (3, 2)
    assert got[1]["containment"] == round(round(2 / 3, 8), 4)
    assert (got[2]["n_hits"], got[2]["containment"]) == (0, 0.0)


def test_eval_containment_verbatim_copy_scores_one(spark):
    # a verbatim copy of an eval doc must score exactly 1.0; an
    # eval-vocabulary REORDERING scores < 1 (different shingles)
    ev_text = "alpha beta gamma delta epsilon zeta eta theta"
    ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, ev_text),
         (2, "theta eta zeta epsilon delta gamma beta alpha")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["containment"]
           for r in D.eval_containment(tr, ev, "text", "doc_id").collect()}
    assert got[1] == 1.0
    assert 0.0 <= got[2] < 1.0


def test_temperature_mix_weights_hand_checked(spark):
    # 90/10 token split, alpha=0.5: temp shares sqrt(.9)/sqrt(.1)
    # normalized = .75/.25; weights = (q/p) scaled so max is 1.0
    import math

    rows = [(i, "big", "w " * 9) for i in range(9)] + [(9, "small", "w " * 9)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in
           TX.temperature_mix_weights(df, "source", "text", alpha=0.5).collect()}
    s9, s1 = math.sqrt(0.9), math.sqrt(0.1)
    assert out["big"]["token_share"] == 0.9
    assert out["small"]["temp_share"] == round(round(s1 / (s9 + s1), 8), 6)
    # the small source is the most under-sampled one -> weight 1.0;
    # the big source keeps q/p relative to it
    assert out["small"]["sample_weight"] == 1.0
    big_ratio = (s9 / (s9 + s1)) / 0.9
    small_ratio = (s1 / (s9 + s1)) / 0.1
    assert abs(out["big"]["sample_weight"] - big_ratio / small_ratio) < 1e-5


def test_temperature_mix_alpha_one_is_identity(spark):
    rows = [(0, "a", "x y z"), (1, "b", "x")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = TX.temperature_mix_weights(df, "source", "text", alpha=1.0).collect()
    assert all(r["sample_weight"] == 1.0 for r in out)
    assert all(r["temp_share"] == r["token_share"] for r in out)


def test_temperature_mix_alpha_zero_is_uniform(spark):
    rows = [(0, "a", "x y z"), (1, "b", "x")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = TX.temperature_mix_weights(df, "source", "text", alpha=0.0).collect()
    assert all(r["temp_share"] == 0.5 for r in out)


def test_passage_dedup_hand_checked(spark):
    # doc 1: within-doc repeat of "x y"; doc 2: cross-doc repeat of the
    # doc-1 passage. First (doc, position) occurrence survives, every
    # later copy is cut; unique passages always survive.
    df = spark.createDataFrame(
        [(1, "x y x y a b"), (2, "x y z w")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           D.passage_dedup(df, "text", "doc_id", passage_words=2).collect()}
    assert (out[1]["n_passages"], out[1]["n_dropped"]) == (3, 1)
    assert out[1]["clean_text"] == "x y a b"
    assert (out[2]["n_passages"], out[2]["n_dropped"]) == (2, 1)
    assert out[2]["clean_text"] == "z w"


def test_passage_dedup_short_and_clean_docs(spark):
    # a doc shorter than one passage is one (short) passage; a doc with
    # all passages dropped still gets a row with empty clean_text
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "q")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           D.passage_dedup(df, "text", "doc_id", passage_words=4).collect()}
    assert out[1]["clean_text"] == "a b c d"
    assert (out[2]["n_dropped"], out[2]["clean_text"]) == (1, "")
    assert (out[3]["n_passages"], out[3]["clean_text"]) == (1, "q")


def test_bigram_logprob_hand_checked(spark):
    # corpus "a b" + "a b" + "b c": a=2 b=3 c=1 N=6.
    # bigram (a,b)=2 survives the count cutoff; (b,c)=1 is pruned.
    import math

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           TX.bigram_logprob(df, "text", "doc_id").collect()}
    r8 = lambda v: round(round(v, 8), 8)
    # doc 1: first token ln(c(a)/N)=ln(2/6); kept bigram ln(2/c(a))=ln(1)
    lp1 = round(round((r8(math.log(2 / 6)) + r8(math.log(1.0))) / 2, 8), 4)
    assert out[1]["n_tokens"] == 2
    assert out[1]["avg_logp"] == lp1
    assert out[1]["ppl"] == round(round(math.exp(-lp1), 8), 4)
    assert out[2]["avg_logp"] == lp1
    # doc 3: first ln(3/6); pruned (b,c) -> backoff ln(0.4 * 1/6)
    lp3 = round(round((r8(math.log(3 / 6))
                       + r8(math.log(0.4 * 1 / 6))) / 2, 8), 4)
    assert out[3]["avg_logp"] == lp3
    # the rare-transition doc is the higher-perplexity one
    assert out[3]["ppl"] > out[1]["ppl"]


def test_bigram_logprob_orders_shuffled_below_fluent(spark):
    # repeated fluent phrase builds high-count bigrams; the shuffled
    # copy's transitions are singletons -> pruned -> backoff-scored
    rows = [(i, "the cat sat on the mat") for i in range(5)]
    rows.append((10, "mat the on sat cat the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           TX.bigram_logprob(df, "text", "doc_id").collect()}
    assert out[10]["ppl"] > out[0]["ppl"]


def test_dedup_apply_best_keeps_highest_score(spark):
    corpus = spark.createDataFrame(
        [(1, "t1"), (2, "t2"), (3, "t3"), (4, "t4")],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, rep long"
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 1)], "doc_id long, n_words long"
    )
    kept = D.dedup_apply_best(corpus, clusters, scores, "doc_id", "n_words")
    # cluster {1,2,3}: max score 99 held by 2 and 3 -> tie broken by id
    # -> keep 2; singleton 4 untouched
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4]


def test_pq_codes_shape_and_determinism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_train_exact(emb, "vec_id", "embedding", 64, m=4, k=8, iters=1)
    b = books.collect()
    assert len(b) == 32  # 4 subspaces x 8 codewords
    assert all(len(r["c"]) == 16 for r in b)
    codes = S.pq_codes(emb, "vec_id", "embedding", books, 64, m=4)
    rows = codes.collect()
    n = emb.count()
    assert len(rows) == n * 4
    assert all(0 <= r["code"] < 8 for r in rows)


def test_pq_adc_rerank_recall_vs_bruteforce(spark):
    # raw 12-bit ADC ranking is a coarse shortlister on these noisy
    # embeddings (~0.2 top-5 overlap); the ADC->rerank composition is
    # the production path and must recover most of the exact top-5
    # while exactly scoring only 1/5 of the corpus
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 10)
    exact = S.ann_topk_bruteforce(emb, queries, "vec_id", "embedding", k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    raw = S.ann_topk_pq(emb, queries, "vec_id", "embedding", 64, m=4, k=5)
    p_raw = {(r["query_id"], r["neighbor_id"]) for r in raw.collect()}
    assert len(e & p_raw) >= len(e) // 8  # coarse but not random
    rr = S.ann_topk_pq(emb, queries, "vec_id", "embedding", 64, m=4, k=5,
                       rerank=100)
    p_rr = {(r["query_id"], r["neighbor_id"]) for r in rr.collect()}
    assert len(e & p_rr) >= (3 * len(e)) // 5  # measured 45/55


def test_pq_single_codeword_is_centroid_distance(spark):
    # degenerate config: k=1 -> every vector gets code 0 in every
    # subspace, and ADC ranks all corpus vectors identically per query
    # (the analog of the q53/q77 one-bucket parity idea)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    books = S.pq_train_exact(emb, "vec_id", "embedding", 64, m=4, k=1, iters=1)
    codes = S.pq_codes(emb, "vec_id", "embedding", books, 64, m=4)
    assert all(r["code"] == 0 for r in codes.collect())


def test_ivfpq_subexhaustive_candidates_are_adc_subset(spark):
    # nprobe < K: every returned neighbor must carry the SAME adc
    # value the full scan assigns (routing only restricts candidates,
    # never rescores), and recall vs full ADC stays useful
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 10)
    books = S.pq_train_exact(emb, "vec_id", "embedding", 64, m=4, k=8, iters=2)
    codes = S.pq_codes(emb, "vec_id", "embedding", books, 64, m=4)
    cents = S.ivf_train(emb, "vec_id", "embedding", k_lists=8, iters=1)
    full = S.ann_topk_pq(emb, queries, "vec_id", "embedding", 64, m=4,
                         k=500, codebooks=books, codes=codes)
    sub = S.ann_topk_ivfpq(emb, queries, "vec_id", "embedding", 64,
                           cents, books, codes, m=4, k=5, nprobe=2)
    fd = {(r["query_id"], r["neighbor_id"]): r["adc"] for r in full.collect()}
    srows = sub.collect()
    assert srows
    for r in srows:
        assert fd[(r["query_id"], r["neighbor_id"])] == r["adc"]
    # probing 2/8 lists still recovers a useful share of the full-ADC
    # top-5
    top5 = {(r["query_id"], r["neighbor_id"])
            for r in full.collect() if r["rank"] <= 5}
    got = {(r["query_id"], r["neighbor_id"]) for r in srows}
    assert len(top5 & got) >= len(top5) // 4


def test_repeat_schedule_caps_and_shortfall(spark):
    # budget 100 tokens, 50/50 targets: source a (10 tokens) wants 5
    # epochs -> capped at 4 with shortfall 10; source b (100 tokens)
    # runs half an epoch with no shortfall
    rows = [(0, "a", "w " * 10), (1, "b", "w " * 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in TX.repeat_schedule(
        df, "source", "text", {"a": 0.5, "b": 0.5},
        token_budget=100, max_epochs=4.0).collect()}
    a, b = out["a"], out["b"]
    assert (a["epochs"], a["effective_tokens"], a["shortfall"]) == (4.0, 40.0, 10.0)
    assert (b["epochs"], b["effective_tokens"], b["shortfall"]) == (0.5, 50.0, 0.0)


def test_quality_filter_attributes_empty_and_null_docs(spark):
    # empty/whitespace/null text must get keep=0 verdicts, not vanish
    # through the repetition join
    df = spark.createDataFrame(
        [(1, "the and of to in is that for with was more words here now "
             "so the gate passes this one through fine today"),
         (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["keep"] for r in
           TX.quality_filter(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2] == 0 and out[3] == 0 and out[4] == 0


def test_curate_funnel_counts_sum_to_corpus(spark):
    from sarfile_analyzer_ng_spark.functions.pipeline import curate_funnel

    train = spark.createDataFrame(
        [(1, "a", "the and of to in is that for with was more words here "
                  "now so the gate passes this one through fine today"),
         (2, "a", ""), (3, "b", None)],
        "doc_id long, source string, text string",
    )
    ev = spark.createDataFrame([(9, "held out")], "doc_id long, text string")
    funnel = curate_funnel(train, ev, "text", "doc_id", "source")
    rows = funnel.collect()
    assert len(rows) == 3  # every document attributed, none dropped
    stages = {r["doc_id"]: r["stage"] for r in rows}
    assert stages[2] == "quality" and stages[3] == "quality"


def test_passage_dedup_handles_hash_magnitude_ids(spark):
    # hash/snowflake-magnitude ids must not overflow the first-
    # occurrence key (the old doc*1e6+idx encoding crashed under ANSI)
    big = 6148914691236517205
    df = spark.createDataFrame(
        [(big, "x y a b"), (big + 1, "x y c d")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["clean_text"] for r in
           D.passage_dedup(df, "text", "doc_id", passage_words=2).collect()}
    assert out[big] == "x y a b"
    assert out[big + 1] == "c d"  # "x y" first seen in the smaller id


def test_tokenization_ignores_leading_trailing_whitespace(spark):
    # a verbatim copy that differs only by padding must still be
    # caught by decontamination, and LM scores must not change
    tr = spark.createDataFrame(
        [(1, "  foo bar baz  ")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(9, "foo bar baz")], "doc_id long, text string")
    flagged = D.decontaminate(tr, ev, "text", "doc_id")
    assert [r["doc_id"] for r in flagged.collect()] == [1]
    padded = spark.createDataFrame(
        [(1, " a b"), (2, "a b")], "doc_id long, text string"
    )
    lp = {r["doc_id"]: (r["n_tokens"], r["avg_logp"]) for r in
          TX.unigram_logprob(padded, "text", "doc_id", vocab_size=2).collect()}
    assert lp[1] == lp[2]


def test_mean_word_len_immune_to_whitespace_runs(spark):
    df = spark.createDataFrame(
        [(1, "ab cd"), (2, "ab      cd")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["mean_word_len"] for r in
           TX.quality_score(df, "text").collect()}
    assert out[1] == out[2] == 2.0


def test_dedup_apply_best_drops_unscored_members(spark):
    corpus = spark.createDataFrame(
        [(1, "t1"), (2, "t2")], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, rep long"
    )
    scores = spark.createDataFrame([(2, 5)], "doc_id long, s long")
    kept = D.dedup_apply_best(corpus, clusters, scores, "doc_id", "s")
    # unscored member 1 ranks below scored member 2 and is dropped
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_top_ngrams_excludes_short_doc_pseudo_grams(spark):
    rows = [(i, "click here") for i in range(10)]
    rows.append((100, "one genuine five word sequence right here okay"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.top_ngrams(df, "text", "doc_id", n=5, k=5).collect()
    assert all(len(r["ngram"].split()) == 5 for r in out)
    assert all(r["ngram"] != "click here" for r in out)


def test_decontaminate_semantic_flags_paraphrase_neighbors(spark):
    # cosine is scale-invariant: a train vector that is a scaled copy
    # of an eval vector (the "paraphrase" shape n-gram decon misses)
    # must flag with sim 1.0; an orthogonal vector must not. Ties on
    # max-sim break to the SMALLEST eval id.
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [1.0, 0.0, 0.0]),
         (300, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tr = spark.createDataFrame(
        [(1, [2.0, 0.0, 0.0]),    # scaled copy of eval 100/200
         (2, [0.0, 0.0, 5.0]),    # orthogonal to every eval vector
         (3, [0.0, 3.0, 0.0])],   # copy of eval 300
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in S.decontaminate_semantic(
        tr, ev, "vec_id", "embedding", tau=0.9).collect()}
    assert out[1]["contaminated"] == 1 and out[1]["max_eval_sim"] == 1.0
    assert out[1]["nearest_eval_id"] == 100      # smallest tied eval id
    assert out[2]["contaminated"] == 0 and out[2]["max_eval_sim"] == 0.0
    assert out[3]["contaminated"] == 1 and out[3]["nearest_eval_id"] == 300


def test_pca_power_topd_train_finds_dominant_direction(spark):
    import numpy as np

    # variance 25 along dim 0, variance ~0.01 along dim 1: the top
    # component must align with dim 0 (sign-fixed positive), and the
    # projections must recover the centered dim-0 coordinates
    rng = np.random.default_rng(3)
    x0 = rng.normal(0.0, 5.0, 200)
    x1 = rng.normal(0.0, 0.1, 200)
    rows = [(i, [float(a), float(b)]) for i, (a, b) in enumerate(zip(x0, x1))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, _mu, centered = S.pca_power_topd_train(
        df, "vec_id", "embedding", dim=2, n_components=1, iters=5)
    proj = S.pca_topd_project(centered, "vec_id", comps)
    v = comps[0]
    assert v[0] > 0.99 and abs(v[1]) < 0.1          # sign contract + alignment
    got = {r["vec_id"]: r["pc1_proj"] for r in proj.collect()}
    centered = x0 - x0.mean()
    corr = np.corrcoef(centered, [got[i] for i in range(200)])[0, 1]
    assert corr > 0.999


def test_pca_power_topd_train_degenerate_corpus_raises(spark):
    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="degenerate"):
        S.pca_power_topd_train(df, "vec_id", "embedding", dim=2,
                               n_components=1, iters=2)


def test_vocab_coverage_counts_oov(spark):
    rows = [
        (1, "aa aa aa bb"),          # aa x3, bb x1
        (2, "bb cc dd"),             # cc/dd are rare -> OOV at V=2
        (3, "aa bb"),
        (4, None),                   # tokenless doc still gets a row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # corpus counts: aa=4, bb=3, cc=1, dd=1 -> vocab(V=2) = {aa, bb}
    out = {r["doc_id"]: r for r in TX.vocab_coverage(
        df, "text", "doc_id", vocab_size=2).collect()}
    assert (out[1]["n_tokens"], out[1]["n_oov"]) == (4, 0)
    assert (out[2]["n_tokens"], out[2]["n_oov"]) == (3, 2)
    assert out[2]["oov_rate"] == 0.6667
    assert (out[4]["n_tokens"], out[4]["n_oov"], out[4]["oov_rate"]) == (0, 0, 0.0)
    # tie at the V boundary breaks on word ASC: cc=dd=1, V=3 -> cc in
    out3 = {r["doc_id"]: r for r in TX.vocab_coverage(
        df, "text", "doc_id", vocab_size=3).collect()}
    assert (out3[2]["n_tokens"], out3[2]["n_oov"]) == (3, 1)


def test_edit_dup_pairs_catches_typos_jaccard_blurs(spark):
    # a one-char in-word typo shifts every shingle containing that
    # word, blurring Jaccard, but costs exactly 1 edit — the pair the
    # fuzzy verifier exists for. Orientation doc_a < doc_b; dissimilar
    # pairs and sub-threshold pairs are excluded.
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base),
        (2, base.replace("quick", "qvick")),       # 1 edit
        (3, "completely different text about engines and shuffles ok"),
        (4, base),                                  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["edit_sim"] for r in
           D.edit_dup_pairs(df, "text", "doc_id", tau=0.8).collect()}
    assert got[(1, 4)] == 1.0
    assert got[(1, 2)] == got[(2, 4)] == round(1 - 1 / len(base), 4)
    assert all(3 not in pair for pair in got)
    assert all(a < b for a, b in got)


def test_edit_dup_pairs_exposes_lsh_cache_for_release(spark):
    # r8 ADVICE: the banded-signature cache minhash_lsh_pairs attaches
    # must survive the candidate .select() projection so release()
    # actually unpersists it — the attribute was read off the projected
    # frame before, which silently dropped it (storage leak per call).
    rows = [(i, f"doc {i} words alpha beta gamma delta") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.edit_dup_pairs(df, "text", "doc_id", tau=0.8)
    cached = getattr(out, "_cached_inputs", [])
    assert len(cached) >= 1
    out.collect()
    assert any(dep.storageLevel.useMemory for dep in cached)
    D.release(out)
    assert all(not dep.storageLevel.useMemory for dep in cached)


def test_apply_top1_removal_projects_out_dominant_direction(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    x0 = rng.normal(0.0, 5.0, 150)
    x1 = rng.normal(0.0, 0.1, 150)
    rows = [(i, [float(a), float(b)]) for i, (a, b) in enumerate(zip(x0, x1))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, mu, _centered = S.pca_power_topd_train(
        df, "vec_id", "embedding", dim=2, n_components=1, iters=5)
    out = {r["vec_id"]: np.asarray(r["resid"]) for r in
           S.apply_top1_removal(df, "vec_id", "embedding",
                                comps[0], mu).collect()}
    vv = np.asarray(comps[0])
    R = np.stack([out[i] for i in range(150)])
    # residuals are (numerically) orthogonal to the removed component
    assert float(np.abs(R @ vv).max()) < 1e-4
    # the dominant-direction variance is gone; the minor axis survives
    C = np.stack([x0 - x0.mean(), x1 - x1.mean()], axis=1)
    assert R.var(axis=0)[0] < 1e-2 < 20 < C.var(axis=0)[0]


def test_epoch_shuffle_is_distinct_deterministic_permutations(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = TX.epoch_shuffle(df, "doc_id", epochs=3, num_shards=4).collect()
    assert len(out) == 600
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    for e, rows in by_epoch.items():
        # every doc exactly once per epoch
        assert sorted(r["doc_id"] for r in rows) == list(range(200))
        # positions are contiguous 1..n within each shard
        shards = {}
        for r in rows:
            shards.setdefault(r["shard"], []).append(r["pos"])
        assert set(shards) <= set(range(4))
        for poss in shards.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
    # epochs produce DIFFERENT global orders
    def order(e):
        return [r["doc_id"] for r in
                sorted(by_epoch[e], key=lambda r: (r["shard"], r["pos"]))]
    assert order(0) != order(1) != order(2)
    # and the whole thing replays deterministically
    again = TX.epoch_shuffle(df, "doc_id", epochs=3, num_shards=4).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


def test_decontaminate_semantic_empty_eval_is_empty_not_all_clear(spark):
    # contract pin: no eval vectors -> NO verdict rows (skip the pass
    # for all-clear semantics), mirroring the oracle's inner-join shape
    tr = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ev = tr.where(F.lit(False))
    assert S.decontaminate_semantic(
        tr, ev, "vec_id", "embedding", tau=0.5).count() == 0


def test_source_divergence_separates_disjoint_sources(spark):
    rows = (
        [(i, "alpha beta gamma delta", "sa") for i in range(20)]
        + [(100 + i, "omega sigma tau phi", "sb") for i in range(20)]
        + [(200 + i, "alpha beta gamma delta", "sc") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r["js_div"] for r in
           TX.source_divergence(df, "text", "source",
                                vocab_size=8).collect()}
    # identical-content sources are ~0 apart; disjoint-vocabulary
    # sources are near ln(2) (the JS upper bound)
    assert out[("sa", "sc")] < 0.01
    assert out[("sa", "sb")] > 0.5 and out[("sb", "sc")] > 0.5
    # symmetric pairs emitted once, oriented a < b
    assert set(out) == {("sa", "sb"), ("sa", "sc"), ("sb", "sc")}
    # JS is bounded by ln 2
    assert all(0.0 <= v <= 0.6932 for v in out.values())


def test_epoch_shuffle_handles_negative_and_sparse_ids(spark):
    # id-space robustness: negative and widely-spaced ids still get a
    # full permutation per epoch with deterministic addresses (the
    # multiplicative-hash mirror handles Java/DuckDB % sign semantics)
    ids = [-5_000_000_007, -3, 0, 7, 999_983, 10**15]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = TX.epoch_shuffle(df, "doc_id", epochs=2, num_shards=3).collect()
    assert len(out) == 12
    for e in (0, 1):
        rows = [r for r in out if r["epoch"] == e]
        assert sorted(r["doc_id"] for r in rows) == sorted(ids)
        assert all(0 <= r["shard"] < 3 and r["pos"] >= 1 for r in rows)
    again = TX.epoch_shuffle(df, "doc_id", epochs=2, num_shards=3).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


def test_weighted_sample_prefers_heavy_weights_and_is_exact_k(spark):
    import math

    rows = ([(i, "a", 10.0) for i in range(50)]          # heavy
            + [(100 + i, "a", 0.01) for i in range(50)]  # light
            + [(200 + i, "b", 1.0) for i in range(5)])   # tiny stratum
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = TX.weighted_sample(df, "doc_id", "source", "w", k=10).collect()
    a = [r for r in out if r["source"] == "a"]
    b = [r for r in out if r["source"] == "b"]
    assert len(a) == 10 and sorted(r["rk"] for r in a) == list(range(1, 11))
    assert len(b) == 5                     # stratum smaller than k: all kept
    # u^(1/10) skews toward 1, u^(1/0.01) toward 0: heavy rows dominate
    heavy = sum(1 for r in a if r["doc_id"] < 100)
    assert heavy >= 9
    # deterministic replay + the E-S key formula itself
    again = TX.weighted_sample(df, "doc_id", "source", "w", k=10).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}
    r0 = a[0]
    u = ((((r0["doc_id"] % 1000003) * 2654435761) % 1000003) + 1.0) / 1000004.0
    assert abs(r0["es_key"] - round(round(u ** (1.0 / 10.0), 8), 8)) < 1e-9


def test_round7_operator_edges(spark):
    # single-source corpus: divergence has no pairs, not a crash
    one = spark.createDataFrame(
        [(1, "aa bb cc", "only")], "doc_id long, text string, source string"
    )
    assert TX.source_divergence(one, "text", "source").count() == 0
    # vocab larger than the corpus vocabulary: everything in-vocab
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa cc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in TX.vocab_coverage(
        df, "text", "doc_id", vocab_size=1000).collect()}
    assert all(r["n_oov"] == 0 and r["oov_rate"] == 0.0
               for r in out.values())
    # zero/negative weights rank LAST (floored, not an error), and the
    # sample still fills k from whatever exists
    w = spark.createDataFrame(
        [(1, "s", 5.0), (2, "s", 0.0), (3, "s", -2.0)],
        "doc_id long, source string, w double",
    )
    ranked = {r["doc_id"]: r["rk"] for r in TX.weighted_sample(
        w, "doc_id", "source", "w", k=3).collect()}
    assert ranked[1] == 1 and set(ranked) == {1, 2, 3}


def test_pca_power_topd_train_deflation_orthogonalizes(spark):
    """Rank-D power iteration with deflation: the two components come
    out near-orthogonal and aligned with the planted dominant axes."""
    import numpy as np

    rng = np.random.default_rng(11)
    # two dominant directions with distinct variances + noise floor
    x0 = rng.normal(0.0, 6.0, 200)
    x1 = rng.normal(0.0, 2.5, 200)
    x2 = rng.normal(0.0, 0.05, 200)
    rows = [(i, [float(a), float(b), float(c)])
            for i, (a, b, c) in enumerate(zip(x0, x1, x2))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    comps, _mu, _centered = S.pca_power_topd_train(
        df, "vec_id", "embedding", dim=3, n_components=2, iters=4)
    v1, v2 = np.asarray(comps[0]), np.asarray(comps[1])
    assert abs(float(v1 @ v2)) < 1e-3  # deflation orthogonalizes
    # the dominant components align with the planted axes
    assert abs(v1[0]) > 0.99 and abs(v2[1]) > 0.99


def test_pca_topd_projections_match_numpy_reference(spark):
    """The q118 operator's projections vs an independent numpy
    deflation (no shared code path): signs fixed per the v[0] >= 0
    rule, agreement to the rounding tolerance."""
    import numpy as np

    rng = np.random.default_rng(23)
    X = rng.normal(0.0, 1.0, (120, 4)) @ np.diag([5.0, 2.0, 0.3, 0.1])
    rows = [(i, [float(v) for v in X[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, _mu, centered = S.pca_power_topd_train(
        df, "vec_id", "embedding", dim=4, n_components=2, iters=8)
    proj = S.pca_topd_project(centered, "vec_id", comps)
    got = {r["vec_id"]: (r["pc1_proj"], r["pc2_proj"])
           for r in proj.collect()}

    C = X - X.mean(axis=0)
    # reference: exact eigenvectors of the covariance
    w, V = np.linalg.eigh(C.T @ C)
    ref1, ref2 = V[:, -1], V[:, -2]
    for k, ref in ((0, ref1), (1, ref2)):
        v = np.asarray(comps[k])
        if ref[0] < 0:
            ref = -ref
        assert float(np.abs(v - ref).max()) < 5e-3
    p1 = C @ np.asarray(comps[0])
    for i in range(120):
        assert abs(got[i][0] - p1[i]) < 5e-3


def test_calibration_report_separates_good_and_bad_calibration(spark):
    """r8: the reliability table must read ~zero gap for a perfectly
    calibrated scorer (label rate equals the prediction inside every
    bucket) and a large gap for an anti-calibrated one; bins adapt to
    the OBSERVED score range; a constant scorer degenerates to one
    bin instead of dividing by zero."""
    import numpy as np

    from sarfile_analyzer_ng_spark.functions import classify as C

    rng = np.random.default_rng(3)
    ps = rng.uniform(0.41, 0.59, 2000)  # narrow band: adaptive bins matter
    good = (rng.uniform(0, 1, 2000) < ps).astype(int)       # calibrated
    rows = [(i, float(p), int(y)) for i, (p, y) in enumerate(zip(ps, good))]
    df = spark.createDataFrame(rows, "doc_id long, p_good double, label int")
    rep = {r["bin"]: r for r in C.calibration_report(df).collect()}
    assert len(rep) == 10                       # range-adaptive: all bins live
    assert all(abs(r["gap"]) < 0.12 for r in rep.values())
    assert sum(r["n"] for r in rep.values()) == 2000

    anti = df.withColumn("label", (1 - F.col("label")).cast("int"))
    rep2 = C.calibration_report(anti).collect()
    # anti-calibrated gap = 2p-1, so the extreme bins read ~0.17
    assert max(abs(r["gap"]) for r in rep2) > 0.15

    const = df.withColumn("p_good", F.lit(0.5))
    rep3 = C.calibration_report(const).collect()
    assert len(rep3) == 1 and rep3[0]["bin"] == 0


def test_incremental_near_dups_screens_batch_against_ref(spark):
    """r8: the near-dup sibling of the exact anti-join — a new batch
    screened against an existing corpus. A light edit of a ref doc is
    flagged with its candidate visible; unrelated text passes with
    zero candidates; an exact copy maxes the estimate; the ref corpus
    itself is never self-paired (verdicts exist only for batch ids)."""
    ref_rows = [(i, f"reference document number {i} about the quick brown "
                    f"fox and topic {i % 5} with several shared words")
                for i in range(20)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    batch_rows = [
        (100, ref_rows[3][1]),                       # exact copy
        (101, ref_rows[7][1] + " extra token"),      # near-dup
        (102, "completely unrelated payload regarding submarine "
              "acoustics and sonar arrays in deep water"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.incremental_near_dups(batch, ref, "text", "doc_id").collect()}
    assert set(out) == {100, 101, 102}
    assert out[100]["is_dup"] == 1 and out[100]["max_est_jaccard"] == 1.0
    assert out[101]["is_dup"] == 1 and out[101]["n_candidates"] >= 1
    assert out[102]["is_dup"] == 0 and out[102]["n_candidates"] == 0


def test_decontaminate_spans_cuts_only_the_leak(spark):
    """r8: surgical decontamination — a document embedding one eval
    question verbatim loses EXACTLY that span (the rest survives,
    order preserved); an untouched document passes through; a short
    shared run below min_tokens is not cut."""
    eval_q = "what is the capital of france and when was it founded exactly"
    ev = spark.createDataFrame([(1, eval_q)], "doc_id long, text string")
    doc_with_leak = (
        "Intro paragraph with its own words here . "
        + eval_q
        + " And a closing paragraph that must survive fully intact okay"
    )
    clean_doc = ("a completely clean training document about submarine "
                 "acoustics and sonar arrays in deep water columns")
    short_overlap = ("the capital of france is mentioned briefly here but "
                     "only as a short aside inside otherwise original text")
    train = spark.createDataFrame(
        [(10, doc_with_leak), (11, clean_doc), (12, short_overlap)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           D.decontaminate_spans(train, ev, "text", "doc_id",
                                 k=4, min_tokens=8).collect()}
    # the leak is cut, both flanks survive verbatim
    assert out[10]["n_spans_cut"] == 1
    assert eval_q not in out[10]["text_clean"]
    assert out[10]["text_clean"].startswith("Intro paragraph")
    assert out[10]["text_clean"].endswith("fully intact okay")
    assert out[10]["n_cut_tokens"] == len(eval_q.split())
    # untouched documents pass through byte-identical (mod ws collapse)
    assert out[11]["text_clean"] == clean_doc and out[11]["n_spans_cut"] == 0
    # a sub-threshold shared run is NOT cut
    assert out[12]["n_spans_cut"] == 0 and out[12]["n_cut_tokens"] == 0


def test_simhash_near_pairs_max_df_caps_hot_bands(spark):
    """r8: the simhash banding's hot-bucket cap — 300 documents whose
    signatures share every band value (constant text) must not
    generate a quadratic bucket once the band df cap engages, while a
    planted distinctive near-pair (unique band values) survives."""
    rows = [(i, "constant boilerplate text repeated identically") for i in range(300)]
    # exact copies: identical signatures, so every band matches and
    # the pair's own band values have df=2 (uncapped)
    distinct_text = ("a very distinctive document about glacier firn "
                     "densification rates in polar accumulation zones")
    rows += [(1000, distinct_text), (1001, distinct_text)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.simhash32_portable(df, "text", "doc_id")
    uncapped = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=32,
                                    band_bits=8, sigs=sigs, sig_bits=32)
    assert uncapped.count() >= 300 * 299 // 2
    capped = D.simhash_near_pairs(df, "text", "doc_id", max_hamming=32,
                                  band_bits=8, sigs=sigs, sig_bits=32,
                                  max_df=50)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (1000, 1001) in got
    assert not any(a < 300 and b < 300 for a, b in got)


_TEMPLATED = [(i, "constant boilerplate legal disclaimer text repeated on every page")
              for i in range(300)]
_DISTINCT_TXT = ("a very distinctive document about glacier firn "
                 "densification rates in polar accumulation zones")


def test_minhash_lsh_pairs_max_df_caps_hot_bands(spark):
    """r9 (VERDICT r8 "What's wrong" #2): the MinHash band join's
    hot-band cap. 300 templated documents share EVERY band key (exact
    dedup upstream removes identical copies, but a templated corpus
    re-creates the situation with near-identical text — identical
    signatures here are the worst case), so the uncapped join is
    quadratic; with the cap the hot bucket collapses while a planted
    distinctive pair (band df = 2) survives."""
    rows = _TEMPLATED + [(1000, _DISTINCT_TXT), (1001, _DISTINCT_TXT)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.minhash_lsh_pairs(df, "text", "doc_id")
    assert uncapped.count() >= 300 * 299 // 2
    capped = D.minhash_lsh_pairs(df, "text", "doc_id", max_df=50)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (1000, 1001) in got
    assert not any(a < 300 and b < 300 for a, b in got)
    D.release(capped)
    D.release(uncapped)


def test_minhash_portable_max_df_caps_hot_bands(spark):
    rows = _TEMPLATED + [(1000, _DISTINCT_TXT), (1001, _DISTINCT_TXT)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.minhash_lsh_pairs_portable(df, "text", "doc_id")
    assert uncapped.count() >= 300 * 299 // 2
    capped = D.minhash_lsh_pairs_portable(df, "text", "doc_id", max_df=50)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (1000, 1001) in got
    assert not any(a < 300 and b < 300 for a, b in got)
    D.release(capped)
    D.release(uncapped)


def test_incremental_near_dups_max_df_caps_hot_bands(spark):
    """The two-sided cap: band df is counted over batch ∪ ref, so
    boilerplate present on both sides (200 × 200 fan-out) is dropped
    from candidate generation, while a distinctive re-crawl still
    screens as a duplicate."""
    ref_rows = _TEMPLATED[:200] + [(900, _DISTINCT_TXT)]
    batch_rows = [(1000 + i, t) for i, t in _TEMPLATED[:200]] + [(1900, _DISTINCT_TXT)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    uncapped = {r["doc_id"]: r for r in
                D.incremental_near_dups(batch, ref, "text", "doc_id").collect()}
    assert uncapped[1000]["n_candidates"] == 200
    capped = {r["doc_id"]: r for r in
              D.incremental_near_dups(batch, ref, "text", "doc_id",
                                      max_df=50).collect()}
    # hot boilerplate bands dropped: no candidate work, audit row kept
    assert capped[1000]["n_candidates"] == 0 and capped[1000]["is_dup"] == 0
    # the distinctive re-crawl still flags against its corpus twin
    assert capped[1900]["n_candidates"] == 1 and capped[1900]["is_dup"] == 1
    # every batch doc still gets exactly one verdict row
    assert len(capped) == len(batch_rows)


def test_simhash32_portable_null_text_keeps_doc(spark):
    """r9 (ADVICE): a NULL-text document must appear in the portable
    signature frame as a sig-0 row — the same row '' text produces —
    so the SQL twin (which coalesces NULL to '' before tokenizing)
    can never diverge on corpora containing NULL text."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    sigs = {r["doc"]: r["simhash"] for r in
            D.simhash32_portable(df, "text", "doc_id").collect()}
    assert set(sigs) == {1, 2, 3}
    assert sigs[2] == 0 and sigs[3] == 0


def test_boilerplate_cut_df_threshold_cuts_all_occurrences(spark):
    # "x y" appears in docs 1,2,3 (df=3 >= min_df=3): cut EVERYWHERE,
    # including its first occurrence — the policy difference from
    # passage_dedup's keep-first. "a b" (df=2) survives untouched.
    df = spark.createDataFrame(
        [(1, "x y a b"), (2, "x y c d"), (3, "x y e f"), (4, "a b g h")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           D.boilerplate_cut(df, "text", "doc_id", passage_words=2,
                             min_df=3).collect()}
    assert out[1]["clean_text"] == "a b"
    assert out[2]["clean_text"] == "c d"
    assert out[3]["clean_text"] == "e f"
    assert out[4]["clean_text"] == "a b g h"
    assert out[1]["n_boiler"] == 1 and out[4]["n_boiler"] == 0


def test_boilerplate_cut_within_doc_repeat_counts_once(spark):
    # df counts DISTINCT docs: a passage repeated 3x inside ONE doc has
    # df=1 and survives (it's repetition, q61's domain — not boilerplate)
    df = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "p q r s")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           D.boilerplate_cut(df, "text", "doc_id", passage_words=2,
                             min_df=2).collect()}
    assert out[1]["clean_text"] == "x y x y x y"
    assert out[1]["n_boiler"] == 0


def test_boilerplate_cut_fully_boiler_doc_empty_clean_text(spark):
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x y")], "doc_id long, text string"
    )
    out = D.boilerplate_cut(df, "text", "doc_id", passage_words=2,
                            min_df=3).collect()
    assert all(r["clean_text"] == "" and r["n_boiler"] == 1 for r in out)


def test_chunk_ppl_cut_cuts_garbled_chunk_keeps_fluent(spark):
    """A corpus of fluent 4-word chunks plus ONE doc carrying a
    garbled rare-token chunk: the garbled chunk lands above the p90
    chunk-perplexity and is cut; every fluent chunk survives, and the
    doc reassembles without it."""
    fluent = "the cat sat down"
    rows = [(i, f"{fluent} {fluent}") for i in range(10)]
    rows.append((99, f"{fluent} qzx vbn wkj plm"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           TX.chunk_ppl_cut(df, "text", "doc_id", chunk_words=4,
                            vocab_size=4, ppl_quantile=0.9).collect()}
    assert out[99]["n_chunks"] == 2 and out[99]["n_cut"] == 1
    assert out[99]["clean_text"] == fluent
    for i in range(10):
        assert out[i]["n_cut"] == 0
        assert out[i]["clean_text"] == f"{fluent} {fluent}"


def test_proto_prune_drops_highest_cosine_per_cluster(spark):
    """q146: within every cluster the dropped (most prototypical)
    vectors must all sit at cosine >= every kept vector's cosine, and
    the drop fraction is ~20% (peer ties may shift the boundary)."""
    from sarfile_analyzer_ng_spark.queries import q146_proto_prune

    from .conftest import SF_DIR

    rows = q146_proto_prune(spark, SF_DIR).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert by_cluster
    n_drop = sum(1 for r in rows if r["keep"] == 0)
    assert 0 < n_drop < len(rows)
    assert abs(n_drop / len(rows) - 0.2) < 0.1
    for members in by_cluster.values():
        kept = [r["cos"] for r in members if r["keep"] == 1]
        dropped = [r["cos"] for r in members if r["keep"] == 0]
        if kept and dropped:
            assert min(dropped) >= max(kept) - 1e-9


def test_soft_dedup_weights_inverse_cluster_size(spark):
    """A 3-doc cluster gets weight 1/3 for EVERY member, unclustered
    docs keep weight 1.0, and the corpus row count is preserved."""
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 1)], "doc_id long, rep long")
    out = {r["doc_id"]: r for r in D.soft_dedup_weights(
        corpus, clusters, "doc_id").collect()}
    assert len(out) == 6
    for d in (1, 2, 5):
        assert out[d]["cluster_size"] == 3
        assert abs(out[d]["sample_weight"] - 1.0 / 3) < 1e-6
    for d in (3, 4, 6):
        assert out[d]["cluster_size"] == 1
        assert out[d]["sample_weight"] == 1.0


def test_soft_dedup_preserves_expected_mass_per_cluster(spark):
    """Sum of weights over a cluster is ~1.0 — the invariant that
    makes soft dedup equivalent in expectation to keep-one."""
    corpus = spark.createDataFrame(
        [(i, "x") for i in range(10)], "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 0), (7, 7), (8, 7)],
        "doc_id long, rep long")
    out = D.soft_dedup_weights(corpus, clusters, "doc_id")
    sums = {r["rep"]: r["s"] for r in (
        out.join(clusters, "doc_id")
        .groupBy("rep").agg(F.sum("sample_weight").alias("s"))
    ).collect()}
    assert abs(sums[0] - 1.0) < 1e-5 and abs(sums[7] - 1.0) < 1e-5


def test_budget_allocation_exact_sum_and_largest_remainder(spark):
    """Allocations are integers summing EXACTLY to the budget; the
    extra token goes to the largest fractional remainder."""
    w = spark.createDataFrame(
        [("a", 1.0, 10), ("b", 1.0, 10), ("c", 1.0, 2)],
        "source string, wt double, avail long")
    out = {r["source"]: r for r in TX.budget_allocation(
        w, "source", "wt", budget=10, avail_col="avail").collect()}
    assert sum(r["alloc_tokens"] for r in out.values()) == 10
    # 10/3 = 3.33.. each; equal fracs -> tie broken by source asc
    assert out["a"]["alloc_tokens"] == 4
    assert [out[s]["alloc_tokens"] for s in "bc"] == [3, 3]
    assert out["c"]["fully_funded"] == 0  # needs 3, has 2
    assert out["a"]["fully_funded"] == 1


def test_budget_allocation_zero_weight_source_gets_zero(spark):
    w = spark.createDataFrame(
        [("a", 3.0), ("b", 0.0), ("c", 1.0)], "source string, wt double")
    out = {r["source"]: r["alloc_tokens"] for r in TX.budget_allocation(
        w, "source", "wt", budget=100).collect()}
    assert out == {"a": 75, "b": 0, "c": 25}


def test_word_entropy_uniform_vs_repetitive_vs_empty(spark):
    """All-distinct words -> entropy ln(n); one repeated word -> 0;
    empty/whitespace text -> a 0-row verdict, not a vanish."""
    import math

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x x"), (3, "   "), (4, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.word_entropy(
        df, "text", "doc_id").collect()}
    assert len(out) == 4
    assert out[1]["n_tokens"] == 4 and out[1]["n_types"] == 4
    assert abs(out[1]["word_entropy"] - math.log(4)) < 1e-3
    assert out[1]["ttr"] == 1.0
    assert out[2]["word_entropy"] == 0.0 and out[2]["n_types"] == 1
    assert out[2]["ttr"] == 0.2
    for d in (3, 4):
        assert out[d]["n_tokens"] == 0
        assert out[d]["word_entropy"] == 0.0 and out[d]["ttr"] == 0.0


def test_cluster_silhouette_separated_vs_merged(spark):
    """Two tight, well-separated direction bundles: k=2 silhouettes
    must be strongly positive for both clusters."""
    rows = []
    for i in range(6):
        rows.append((i, [10.0, float(i % 3) * 0.1, 0.0, 0.0]))
    for i in range(6, 12):
        rows.append((i, [0.0, 0.0, 10.0, float(i % 3) * 0.1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.cluster_silhouette(emb, "vec_id", "embedding", k=2, iters=2)
    rows_out = out.collect()
    assert len(rows_out) == 2
    assert sum(r["n_members"] for r in rows_out) == 12
    for r in rows_out:
        assert r["mean_silhouette"] > 0.9
        assert r["min_silhouette"] > 0.8


def _jl_corpus(spark, n=16):
    import math

    rows = []
    for i in range(1, n + 1):
        vec = [math.sin(i * 3.1 + d * 0.77) for d in range(64)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_jl_projection_is_deterministic_and_seeded(spark):
    emb = _jl_corpus(spark, 4)
    a = {(r["vec_id"], r["j"]): r["y"]
         for r in S.jl_project(emb, "vec_id", "embedding", 16).collect()}
    b = {(r["vec_id"], r["j"]): r["y"]
         for r in S.jl_project(emb, "vec_id", "embedding", 16).collect()}
    assert a == b
    c = {(r["vec_id"], r["j"]): r["y"]
         for r in S.jl_project(emb, "vec_id", "embedding", 16,
                               seed_tag="other").collect()}
    assert a != c  # the seed tag really parameterizes the matrix


def test_jl_distortion_concentrates_with_more_dims(spark):
    """The JL lemma in action: distortion ratios spread shrinks as
    out_dim grows (4 -> 36), and at 16 dims the mean is near 1."""
    emb = _jl_corpus(spark, 12)

    def spread(dim):
        rows = S.jl_distortion_audit(
            emb, "vec_id", "embedding", out_dim=dim, max_id=12
        ).collect()
        ds = [r["distortion"] for r in rows if r["distortion"] is not None]
        assert ds
        return max(ds) - min(ds), sum(ds) / len(ds)

    s4, _ = spread(4)
    s16, m16 = spread(16)
    s36, _ = spread(36)
    assert s36 < s4
    assert 0.5 < m16 < 1.5


def test_jl_distortion_zero_distance_pair_is_null(spark):
    emb = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 64)],
        "vec_id long, embedding array<float>")
    out = S.jl_distortion_audit(emb, "vec_id", "embedding",
                                out_dim=16, max_id=5).collect()
    assert len(out) == 1
    assert out[0]["orig_d2"] == 0.0 and out[0]["distortion"] is None


def test_pair_pagerank_hub_outranks_leaves(spark):
    """Star graph: the hub must outrank every leaf; an isolated pair
    splits rank evenly; total mass stays ~1."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (8, 9)],
        "doc_a long, doc_b long")
    out = {r["doc_id"]: r["pagerank"] for r in D.pair_pagerank(
        pairs, iters=3).collect()}
    assert len(out) == 7
    hub, leaves = out[1], [out[i] for i in (2, 3, 4, 5)]
    assert all(hub > lv for lv in leaves)
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly
    assert abs(out[8] - out[9]) < 1e-9
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_auc_perfect_constant_reversed_and_single_class(spark):
    from sarfile_analyzer_ng_spark.functions import classify as C

    def mk(rows):
        return spark.createDataFrame(rows, "p double, label int")

    perfect = mk([(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])
    assert C.auc_score(perfect, "p", "label").collect()[0]["auc"] == 1.0
    constant = mk([(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)])
    assert C.auc_score(constant, "p", "label").collect()[0]["auc"] == 0.5
    reverse = mk([(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)])
    assert C.auc_score(reverse, "p", "label").collect()[0]["auc"] == 0.0
    single = mk([(0.4, 1), (0.6, 1)])
    r = C.auc_score(single, "p", "label").collect()[0]
    assert r["auc"] is None and r["n_neg"] == 0


def test_auc_ties_average_rank_hand_value(spark):
    """pos scores {0.8, 0.5}, neg {0.5, 0.2}: the 0.5 tie contributes
    half a win -> AUC = (1 + 0.5 + 1 + 0) / 4 = 0.875... wait:
    pairs: (0.8 vs 0.5)=1, (0.8 vs 0.2)=1, (0.5 vs 0.5)=0.5,
    (0.5 vs 0.2)=1 -> 3.5/4 = 0.875."""
    from sarfile_analyzer_ng_spark.functions import classify as C

    df = spark.createDataFrame(
        [(0.8, 1), (0.5, 1), (0.5, 0), (0.2, 0)], "p double, label int")
    assert C.auc_score(df, "p", "label").collect()[0]["auc"] == 0.875


def test_heaps_law_cumulative_vocab_and_duplication_collapse(spark):
    """Cumulative vocab must equal the true distinct count per prefix;
    a fully duplicated corpus flattens the fitted exponent versus a
    vocabulary-growing one."""
    grow = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(40)],
        "doc_id long, text string")
    flat = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(40)],
        "doc_id long, text string")
    g = TX.heaps_law(grow, "text", "doc_id", buckets=5).collect()
    f = TX.heaps_law(flat, "text", "doc_id", buckets=5).collect()
    # every doc contributes 20 fresh types: cum_vocab == 20 * cum_docs
    for r in g:
        assert r["cum_vocab"] == 20 * r["cum_docs"]
    assert f[0]["cum_vocab"] == 6 and f[-1]["cum_vocab"] == 6
    assert g[0]["heaps_b"] > 0.9
    assert f[0]["heaps_b"] < 0.1


def test_embedding_card_flags_ragged_null_and_zero_norm(spark):
    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None),
         (4, [1.0, 2.0, 2.0])],
        "vec_id long, embedding array<float>")
    r = S.embedding_card(emb, "vec_id", "embedding").collect()[0]
    assert r["n_vectors"] == 4 and r["n_null"] == 1
    assert (r["min_dim"], r["max_dim"]) == (2, 3)  # ragged detected
    assert r["n_zero_norm"] == 1
    assert r["min_norm"] == 0.0 and r["max_norm"] == 5.0


def test_bigram_entropy_deterministic_vs_diverse_source(spark):
    """A source whose next word is always determined has H(w2|w1)=0;
    a source with two equally likely continuations has ln 2."""
    import math

    det = [(i, "det", "a b a b a b a b") for i in range(4)]
    # from 'x': continuations y and z equally often; from y/z: always x
    div = [(100 + i, "div", "x y x z x y x z x") for i in range(4)]
    df = spark.createDataFrame(det + div,
                               "doc_id long, source string, text string")
    out = {r["source"]: r for r in TX.bigram_entropy(
        df, "text", "doc_id", "source").collect()}
    assert out["det"]["cond_entropy"] == 0.0
    # div: 8 bigrams/doc; 'x->y' 2, 'x->z' 2, 'y->x' 2, 'z->x' 2
    # H = P(x as context)=4/8 * ln2 + 0 = 0.5*ln2
    assert abs(out["div"]["cond_entropy"] - 0.5 * math.log(2)) < 1e-3
    assert out["div"]["n_unique_contexts"] == 3


def test_coverage_curve_monotone_and_clamped(spark):
    df = spark.createDataFrame(
        [(1, "a a a a b b c d"), (2, "a b c e")],
        "doc_id long, text string")
    # counts: a=5 b=3 c=2 d=1 e=1 -> total 12, vocab 5
    rows = TX.coverage_curve(df, "text", "doc_id",
                             cutoffs=(1, 2, 100)).collect()
    by = {r["cutoff"]: r for r in rows}
    assert by[1]["coverage"] == round(5 / 12, 6)
    assert by[2]["coverage"] == round(8 / 12, 6)
    assert by[100]["vocab_used"] == 5 and by[100]["coverage"] == 1.0
    covs = [by[k]["coverage"] for k in (1, 2, 100)]
    assert covs == sorted(covs)


def test_curriculum_order_phases_and_addresses(spark):
    """Highest per-source quality percentile lands in phase 0; each
    (phase, shard) position sequence is contiguous from 1; phases
    partition the corpus."""
    rows = []
    for i in range(30):
        # longer docs score higher on the quality formula
        words = ["the", "and", "for"] * (2 + (i % 10))
        rows.append((i, "s" + str(i % 2), " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = TX.curriculum_order(df, "text", "doc_id", "source",
                              phases=3, num_shards=4).collect()
    assert len(out) == 30
    by_phase = {}
    for r in out:
        assert 0 <= r["phase"] <= 2 and 0 <= r["shard"] <= 3
        by_phase.setdefault(r["phase"], []).append(r)
        if r["pct_rank"] == 1.0:
            assert r["phase"] == 0
        if r["pct_rank"] == 0.0:
            assert r["phase"] == 2
    assert set(by_phase) == {0, 1, 2}
    from collections import Counter

    for rows_p in by_phase.values():
        c = Counter(r["shard"] for r in rows_p)
        for sh, n in c.items():
            poss = sorted(r["pos"] for r in rows_p if r["shard"] == sh)
            assert poss == list(range(1, n + 1))


def test_kappa_perfect_chance_and_disagreement(spark):
    from sarfile_analyzer_ng_spark.functions import classify as C

    def mk(pairs):
        a = spark.createDataFrame(
            [(i, x) for i, (x, _) in enumerate(pairs)], "doc_id long, v int")
        b = spark.createDataFrame(
            [(i, y) for i, (_, y) in enumerate(pairs)], "doc_id long, v int")
        return C.kappa_agreement(a, b, "doc_id", "v", "v").collect()[0]

    perfect = mk([(1, 1), (0, 0), (1, 1), (0, 0)])
    assert perfect["kappa"] == 1.0 and perfect["observed_agreement"] == 1.0
    # independent-looking: agreement exactly at chance -> kappa 0
    chance = mk([(1, 1), (1, 0), (0, 1), (0, 0)])
    assert chance["kappa"] == 0.0 and chance["observed_agreement"] == 0.5
    opposite = mk([(1, 0), (0, 1), (1, 0), (0, 1)])
    assert opposite["kappa"] == -1.0
    # both constant: pe = 1 -> NULL, not 0/0
    const = mk([(1, 1), (1, 1), (1, 1)])
    assert const["kappa"] is None and const["observed_agreement"] == 1.0


def test_length_histogram_bins_hand_case(spark):
    from sarfile_analyzer_ng_spark.queries import q169_length_histogram

    df = spark.createDataFrame(
        [("s", ""), ("s", "abcd"), ("s", "abcdefg"), ("s", "x" * 1024),
         ("s", None)],
        "source string, text string")
    import tempfile, os
    d = tempfile.mkdtemp()
    # drive the query function via a parquet dir shaped like testdata
    df.selectExpr("monotonically_increasing_id() as doc_id", "text",
                  "'en' as lang", "source",
                  "length(coalesce(text,'')) as n_chars") \
      .write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {(r["source"], r["log2_bin"]): r
           for r in q169_length_histogram(spark, d).collect()}
    # "" and None -> bin -1 (2 docs); "abcd" -> log2(4)=2; "abcdefg"
    # -> floor(log2 7)=2; 1024 -> bin 10
    assert out[("s", -1)]["n_docs"] == 2
    assert out[("s", 2)]["n_docs"] == 2
    assert out[("s", 2)]["min_chars"] == 4
    assert out[("s", 2)]["max_chars"] == 7
    assert out[("s", 10)]["n_docs"] == 1
