"""IVFPQ recall curve: recall@k vs nprobe against the exact cosine
ranking — the operating-point table a vector-store consumer actually
reads before choosing nprobe (r8 VERDICT item; results land in
docs/SCALING.md).

Usage:
  python tools/ivfpq_recall.py clustered:20000 [k_lists] [m] [rerank]
  python tools/ivfpq_recall.py /path/to/sf_dir [k_lists] [m] [rerank]

Each nprobe row reports mean recall@10 over the query set (overlap of
the IVFPQ top-10 with the exact top-10, / 10). nprobe = k_lists probes
every list and isolates the PQ quantization loss; smaller nprobe adds
coarse-routing loss on top.

``clustered:N`` generates a seeded mixture-of-Gaussians corpus (64
clusters, within-cluster std 0.25) — REAL embedding corpora are
clustered, and on them this curve is the operating-point table a
consumer reads. The driver's parquet embeddings are hash-uniform
(deliberately, for the dedup gates): their exact top-10 is noise, PQ
cannot rank noise, and the curve degenerates (measured ~0.07 ADC
recall flat in nprobe) — run that variant to see the failure mode,
not to pick nprobe.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.catalog import load_table
from sarfile_analyzer_ng_spark.functions import similarity as S
from sarfile_analyzer_ng_spark.session import get_spark

K_AT = 10
N_QUERIES = 20
DIM = 64


def clustered_embeddings(spark, n: int, dim: int = DIM,
                         n_clusters: int = 8, seed: int = 7):
    """Seeded mixture-of-Gaussians corpus with genuine neighbor
    structure — unit-norm cluster centers, within-cluster std 0.6
    (broad manifolds, like real text embeddings). Tighter geometries
    (64 clusters at std 0.25) make every cluster member share one PQ
    code tuple — ADC then ties across whole clusters and the curve
    measures id-order tie-breaking, not retrieval (measured: recall
    FALLS with nprobe as far tied candidates displace near ones)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = rng.integers(0, n_clusters, size=n)
    X = centers[cl] + rng.normal(0.0, 0.6, size=(n, dim))
    # L2-normalize: ADC ranks by L2 over the RAW vectors while the
    # ground truth is cosine — on the unit sphere the two orderings
    # coincide (||a-b||^2 = 2 - 2cos). Unnormalized corpora measure
    # the metric mismatch instead of retrieval (measured: recall
    # FALLS with nprobe as L2-close/cosine-far vectors flood the
    # shortlist). Real cosine deployments normalize at ingest; the
    # operator docstring now states this contract.
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(i + 1, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def planted_embeddings(spark, n: int, dim: int = DIM,
                       n_queries: int = N_QUERIES, k_at: int = K_AT,
                       sim_noise: float = 0.06, seed: int = 7):
    """The retrieval-shaped corpus: a clustered background plus, for
    each query, ``k_at`` PLANTED near-neighbors (query + per-dim Gaussian noise,
    renormalized — at std 0.06/dim the noise norm² is 0.06²·64 ≈
    0.23, so cosine ≈ 1/√1.23 ≈ 0.9 vs background ≈ 0.4; mind the
    per-dim→vector scaling, a 0.35/dim "small" noise is cos 0.34 —
    indistinguishable from background). The
    exact top-10 is then the planted set: the curve measures whether
    IVFPQ finds genuinely-similar items, which is what a vector store
    is FOR — on neighbor-free noise the exact top-10 is arbitrary and
    no quantizer can rank it (see ``clustered:``)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(8, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = rng.integers(0, 8, size=n)
    X = centers[cl] + rng.normal(0.0, 0.6, size=(n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(i + 1, [float(x) for x in X[i]]) for i in range(n)]
    nid = n + 1
    for qi in range(n_queries):
        qv = X[qi]  # vec_id = qi + 1
        for _ in range(k_at):
            v = qv + rng.normal(0.0, sim_noise, size=dim)
            v /= np.linalg.norm(v)
            rows.append((nid, [float(x) for x in v]))
            nid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def recall_curve(spark, sf_dir: str, k_lists: int = 16, m: int = 4,
                 rerank: int = 0, n_queries: int = N_QUERIES,
                 k_at: int = K_AT, codewords: int = 8,
                 sim_noise: float = 0.06):
    if sf_dir.startswith("planted:"):
        emb = planted_embeddings(spark, int(sf_dir.split(":")[1]),
                                 sim_noise=sim_noise)
        emb = emb.repartition(32).cache()
        emb.count()
    elif sf_dir.startswith("clustered:"):
        emb = clustered_embeddings(spark, int(sf_dir.split(":")[1]))
        emb = emb.repartition(32).cache()
        emb.count()
    else:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    queries = emb.where(F.col("vec_id") <= n_queries)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_topk_bruteforce(
            emb, queries, "vec_id", "embedding", k_at
        ).collect()
    }
    centroids, assigned = S.ivf_train(
        emb, "vec_id", "embedding", k_lists=k_lists, iters=2,
        return_assignment=True,
    )
    codebooks = S.pq_train_exact(emb, "vec_id", "embedding", dim=DIM, m=m,
                                 k=codewords)
    codes = S.pq_codes(emb, "vec_id", "embedding", codebooks, dim=DIM, m=m)
    codes = codes.cache()
    codes.count()
    rows = []
    nprobes = sorted({1, 2, 4, max(1, k_lists // 2), k_lists})
    for nprobe in nprobes:
        t0 = time.time()
        got = S.ann_topk_ivfpq(
            emb, queries, "vec_id", "embedding", dim=DIM,
            centroids=centroids, codebooks=codebooks, codes=codes,
            m=m, k=k_at, nprobe=nprobe, rerank=rerank,
            assigned=assigned,
        ).collect()
        wall = time.time() - t0
        found = {(r["query_id"], r["neighbor_id"]) for r in got}
        rec = len(found & exact) / len(exact)
        rows.append((nprobe, round(rec, 4), round(wall, 2)))
    assigned.unpersist()
    codes.unpersist()
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k_lists = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    m = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    rerank = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    codewords = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    sim_noise = float(sys.argv[6]) if len(sys.argv) > 6 else 0.06
    spark = get_spark("ivfpq-recall")
    spark.sparkContext.setLogLevel("ERROR")
    n = (int(sf_dir.split(":")[1])
         if sf_dir.startswith(("clustered:", "planted:"))
         else load_table(spark, sf_dir, "embeddings").count())
    print(f"corpus={n} vectors, k_lists={k_lists}, m={m}, "
          f"codewords={codewords}, rerank={rerank}, "
          f"sim_noise={sim_noise}, recall@{K_AT} over {N_QUERIES} queries")
    print("| nprobe | recall@10 | wall (s) |")
    print("|---|---|---|")
    for nprobe, rec, wall in recall_curve(spark, sf_dir, k_lists, m,
                                          rerank, codewords=codewords,
                                          sim_noise=sim_noise):
        print(f"| {nprobe} | {rec} | {wall} |")


if __name__ == "__main__":
    main()
