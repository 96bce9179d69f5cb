"""Engine options whose value must match an input the caller builds:
the hash count of MinHash signatures, the gram length of a span
duplicate frame, the subspace count of PQ codebooks and codes, and
the list count of IVF centroids. Each case
passes one non-default value through both ends and compares the
result with the function building that input itself. (The Bloom hash
count shared by ``bloom_build`` and ``bloom_probe`` is covered in
test_sketches.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.catalog import load_table
from sarfile_analyzer_ng_spark.functions import dedup as D
from sarfile_analyzer_ng_spark.functions import similarity as S

from .conftest import SF_DIR

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

_BASE = ("the quick brown fox jumps over the lazy dog near the quiet "
         "river bank at dawn")
# two near-dup families and unrelated filler
_DOCS = ([(i, _BASE + f" tail{i % 2}") for i in range(4)]
         + [(10 + i, f"spark shuffles partitions by key {i} then sorts "
                     "each partition before the merge") for i in range(3)]
         + [(20 + i, f"unrelated words number {i} alpha beta gamma")
            for i in range(3)])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_pairs_take_signatures_of_sixteen_hashes(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    sigs = D.minhash_signatures_portable(df, "text", "doc_id",
                                         num_hashes=16).cache()
    handed = D.minhash_lsh_pairs_portable(df, "text", "doc_id",
                                          num_hashes=16, sigs=sigs)
    built = D.minhash_lsh_pairs_portable(df, "text", "doc_id",
                                         num_hashes=16)
    got = _rows(handed)
    assert got == _rows(built)
    assert (0, 2) in {(a, b) for a, b, _ in got}
    D.release(handed)
    D.release(built)

    batch = df.where(F.col("doc_id") % 2 == 0)
    ref = df.where(F.col("doc_id") % 2 == 1)
    handed = D.incremental_near_dups(
        batch, ref, "text", "doc_id", num_hashes=16,
        sig_batch=sigs.where(F.col("doc") % 2 == 0),
        sig_ref=sigs.where(F.col("doc") % 2 == 1))
    built = D.incremental_near_dups(batch, ref, "text", "doc_id",
                                    num_hashes=16)
    got = _rows(handed)
    assert got == _rows(built)
    assert {r[0] for r in got if r[3] == 1} >= {0, 2}
    sigs.unpersist()


def test_span_cut_takes_a_dup_frame_of_four_grams(spark):
    boiler = " ".join(f"B{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, "u1 u2 " + boiler), (2, "v1 " + boiler + " v2"),
         (3, "clean text that repeats nothing at all")],
        "doc_id long, text string")
    dup = D.span_dup_frame(df, "text", "doc_id", k=4).cache()
    handed = D.repeated_spans_cut(df, "text", "doc_id", k=4, dup=dup)
    built = D.repeated_spans_cut(df, "text", "doc_id", k=4)
    got = _rows(handed)
    assert got == _rows(built)
    assert {r[0]: r[1] for r in got}[2] == "v1 v2"
    dup.unpersist()


def test_ann_topk_pq_takes_codebooks_and_codes_of_two_subspaces(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    books = S.pq_train_exact(emb, "vec_id", "embedding", 64, m=2)
    codes = S.pq_codes(emb, "vec_id", "embedding", books, 64, m=2)
    handed = S.ann_topk_pq(emb, queries, "vec_id", "embedding", 64, m=2,
                           codebooks=books, codes=codes)
    built = S.ann_topk_pq(emb, queries, "vec_id", "embedding", 64, m=2)
    got = _rows(handed)
    assert got == _rows(built)
    assert len(got) == 5 * 5


def test_ivf_portable_takes_centroids_of_four_lists(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = S.kmeans_centroids(emb, "vec_id", "embedding", k=4)
    handed = S.ann_topk_ivf_portable(emb, "vec_id", "embedding", 4,
                                     k_lists=4, centroids=cents)
    built = S.ann_topk_ivf_portable(emb, "vec_id", "embedding", 4,
                                    k_lists=4)
    got = _rows(handed)
    assert got == _rows(built)
    assert len(got) == 5 * S.ANN_K
