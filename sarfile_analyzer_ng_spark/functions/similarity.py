"""Similarity search over an embedding column (array<float>).

Brute-force cosine is the correctness baseline; the LSH-bucketed and
IVF variants are the 100 TB paths (candidate generation in buckets,
exact re-rank inside). Candidate *scoring* is an Arrow-batched
vectorized kernel (:func:`cosine_arrow`) — Spark's array higher-order
functions run interpreted (no codegen), which measured 10-50× slower
per pair at real query loads; the JVM ``zip_with`` form is kept only
for the seeded LSH plane signs, where xxhash64 determinism matters
more than throughput.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import rnd, rnd_np, rnd_threshold, worker_task

# serializes pca_power_topd_train's session-wide codegen-conf toggle: two
# concurrent trainers interleaving get/set could "restore" each
# other's transient value and leave codegen off for the session
_CODEGEN_TOGGLE_LOCK = threading.Lock()


def dot(a: Column, b: Column) -> Column:
    """JVM higher-order dot product. Interpreted (no codegen) — fine
    for per-row seeded-plane projections; use :func:`cosine_arrow` in
    per-pair scoring hot paths."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


@worker_task
def _cosine_batches(a, b):
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    ma = np.stack(a.to_numpy()).astype(np.float64)
    mb = np.stack(b.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(num / den)


def cosine_arrow(a, b) -> Column:
    """Vectorized cosine over Arrow batches: the whole batch becomes
    two dense float64 matrices and one einsum — BLAS-grade throughput
    vs the interpreted per-element lambda chain. Ulp-level differences
    vs any other correct summation order are collapsed by the callers'
    ``rnd`` (8-digit pre-round), same contract as the block-matrix
    path in :func:`cosine_dup_pairs`. (The udf object is built lazily:
    a typed returnType keeps import session-free.)"""
    from pyspark.sql import types as T

    return F.pandas_udf(_cosine_batches, T.DoubleType())(a, b)


def cosine_to_queries_arrow(corpus: DataFrame, queries: DataFrame,
                            pairs: list[tuple[str, str, str]]) -> DataFrame:
    """Score every corpus row against EVERY query vector — one
    map-side Arrow pass over the CORPUS, queries held as a local
    matrix (model-sized: the collect is the query set, never the
    corpus). RAW cosines out; callers apply the ``rnd`` ladder
    JVM-side, exactly like the per-pair :func:`cosine_arrow` path.

    Why not BNLJ + per-pair kernel (the q76 shape this replaces,
    guide §4.1 "pass only the columns the function needs"): the pair
    fan-out ships every query vector once PER CORPUS ROW across the
    Python boundary — |corpus|·|Q| rows × 2·dim doubles per scored
    column pair (measured ~400 MB at bench scale for q76's two
    pairs). Here each corpus vector crosses ONCE and the |batch|×|Q|
    cosine matrix is one BLAS matmul per scored pair — same
    multiply-add set, summation order collapsed by the callers' rnd
    (the :func:`cosine_arrow` contract).

    ``pairs`` = [(corpus_vec_col, query_vec_col, out_col), ...] —
    several vector columns (e.g. exact + dequantized) score in the
    same pass. Self-pairs (corpus id == query id) are dropped,
    matching the per-pair kernels' join condition.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # id dtypes follow the INPUT schemas (r12 ADVICE): hardcoding
    # LongType silently overflowed int32/string callers
    out_schema = T.StructType(
        [T.StructField("query_id", queries.schema["query_id"].dataType),
         T.StructField("neighbor_id", corpus.schema["neighbor_id"].dataType)]
        + [T.StructField(out, T.DoubleType()) for _, _, out in pairs]
    )
    qrows = queries.select(
        "query_id", *sorted({p[1] for p in pairs})
    ).collect()
    if not qrows:
        # np.stack over an empty list raises; an empty query set
        # scores nothing (r12 ADVICE guard)
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r["query_id"] for r in qrows])
    qmats = {
        qc: np.stack([np.asarray(r[qc], dtype=np.float64) for r in qrows])
        for qc in {p[1] for p in pairs}
    }
    qnorms = {qc: np.linalg.norm(m, axis=1) for qc, m in qmats.items()}
    nq = len(qids)
    src = corpus.select("neighbor_id", *sorted({p[0] for p in pairs}))

    @worker_task
    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            cols = {
                "query_id": np.tile(qids, n),
                "neighbor_id": np.repeat(nid, nq),
            }
            for cvec, qvec, out in pairs:
                m = np.stack(pdf[cvec].to_numpy()).astype(np.float64)
                num = m @ qmats[qvec].T
                den = np.linalg.norm(m, axis=1)[:, None] * qnorms[qvec][None, :]
                cols[out] = (num / den).reshape(-1)
            out_pdf = pd.DataFrame(cols)
            yield out_pdf[out_pdf["neighbor_id"] != out_pdf["query_id"]]

    return src.mapInPandas(score, out_schema)


def cosine_dup_pairs(emb: DataFrame, id_col: str, vec_col: str,
                     threshold: float,
                     rows_per_block: int = 4096) -> DataFrame:
    """All pairs (a<b) with cosine ≥ threshold — embedding near-dup,
    as a distributed block-matrix self-join (nothing ever collects to
    the driver).

    Rows are hashed into ``B = ceil(n / rows_per_block)`` blocks; every
    unordered block pair (i ≤ j) becomes one task whose input is the
    two blocks' vectors (≤ 2·rows_per_block × dim float64 — bounded
    executor memory at any corpus size), and the O(n²) similarity work
    runs as one BLAS matmul per block pair inside ``applyInPandas``.
    Each vector is shuffled B+1 times — the inherent cost of exact
    all-pairs; at real scale run :func:`lsh_buckets`/IVF first and use
    this only inside candidate buckets.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n = emb.count()  # scalar aggregate, not a collect
    num_blocks = max(1, -(-n // rows_per_block))
    thr_raw = rnd_threshold(threshold)

    src = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int").alias("blk"),
    )
    # Replicate each row to every block pair it belongs to: block i
    # plays the LEFT role for pairs (i, j≥i) and the RIGHT role for
    # pairs (i′≤i, i). The pair key becomes the shuffle key.
    left = src.select(
        "vid", "vec",
        F.col("blk").alias("pi"),
        F.explode(F.sequence("blk", F.lit(num_blocks - 1))).alias("pj"),
        F.lit(0).alias("side"),
    )
    right = src.select(
        "vid", "vec",
        F.explode(F.sequence(F.lit(0), "blk")).alias("pi"),
        F.col("blk").alias("pj"),
        F.lit(1).alias("side"),
    )
    both = left.unionByName(right)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    @worker_task
    def block_pair(key, pdf):
        l = pdf[pdf["side"] == 0]
        r = pdf[pdf["side"] == 1]
        if len(l) == 0 or len(r) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids_l, ids_r = l["vid"].to_numpy(), r["vid"].to_numpy()
        ml = np.array([np.asarray(v, dtype=np.float64) for v in l["vec"]])
        mr = np.array([np.asarray(v, dtype=np.float64) for v in r["vec"]])
        ml = ml / np.linalg.norm(ml, axis=1, keepdims=True)
        mr = mr / np.linalg.norm(mr, axis=1, keepdims=True)
        sims = ml @ mr.T
        # membership first, rounding after: rnd is monotone, so the
        # RAW matmul compared against the exact double boundary
        # (rnd_threshold) selects exactly the pairs whose ROUNDED
        # cosine reaches the threshold — then only the few survivors
        # pay the HALF_UP rnd_np ladder for the emitted value (the
        # full-matrix rounded copy was ~10 matrix-sized temporaries
        # per block pair and dominated the task; r13, guide §4.2)
        kr, kc = np.where(sims >= thr_raw)
        emit_cos = rnd_np(sims[kr, kc], 4)
        a, b = ids_l[kr], ids_r[kc]
        # orient a<b; the diagonal pair (i,i) sees each unordered pair
        # twice (x,y)/(y,x) and self-pairs once — a<b keeps one copy
        # and drops selfs; off-diagonal pairs appear in exactly one
        # block pair, so no cross-task duplicates exist.
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep = lo < hi
        out = pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine": emit_cos[keep]}
        )
        if key[0] == key[1]:
            out = out.drop_duplicates(["id_a", "id_b"])
        return out

    return both.groupBy("pi", "pj").applyInPandas(block_pair, out_schema)


def decontaminate_semantic(train: DataFrame, eval_df: DataFrame,
                           id_col: str, vec_col: str, tau: float) -> DataFrame:
    """Embedding-level train/eval decontamination — the semantic
    complement of the n-gram (dedup.decontaminate) and winnowing
    (dedup.decontaminate_winnow) passes: an eval item paraphrased into
    training data shares no shingles but still sits next to it in
    embedding space (the leakage SemDeDup-style audits look for).

    Every training vector is scored against EVERY eval vector (eval
    suites are bounded — they broadcast like the ANN query sets) and
    reduced to its max cosine + nearest eval id; ``contaminated``
    flags max-sim ≥ ``tau``. Ties break to the smallest eval id via a
    lexicographic (sim, −eval_id) struct max — one map-combinable agg,
    so the shuffle carries |train| rows, not |train|·|eval|.

    Scale shape: broadcast join + Arrow cosine + partial-agg groupBy;
    the corpus streams once, nothing collects.

    An EMPTY eval set yields an empty frame (no contamination
    information), not an all-clear verdict — callers that want
    "nothing to decontaminate against" semantics should skip the
    pass, the same contract as the n-gram decontaminate."""
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("evec")
    )
    tr = train.select(F.col(id_col), F.col(vec_col).alias("tvec"))
    scored = tr.join(F.broadcast(ev)).select(
        id_col,
        "eval_id",
        rnd(cosine_arrow("tvec", "evec"), 4).alias("sim"),
    )
    m = scored.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("sim"), (-F.col("eval_id")).alias("neg_eval"))
        ).alias("m")
    )
    return m.select(
        id_col,
        F.col("m.sim").alias("max_eval_sim"),
        (-F.col("m.neg_eval")).cast("long").alias("nearest_eval_id"),
        (F.col("m.sim") >= tau).cast("long").alias("contaminated"),
    )


def ann_topk_bruteforce(emb: DataFrame, queries: DataFrame, id_col: str,
                        vec_col: str, k: int) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The (small) query set is broadcast; the corpus streams past it once
    — a map-side nested loop with no corpus shuffle, scored by the
    Arrow-batched kernel. Rank via window per query with (cosine desc,
    id asc) — deterministic under ties.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            rnd(cosine_arrow("qvec", "cvec"), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _plane(seed: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane: component j derived from
    xxhash64(seed, j), mapped to [-1, 1). Reproducible across runs."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.lit(seed), j.cast("string")), F.lit(20011)).cast("double")
            / F.lit(10005.5)
        ) - F.lit(1.0),
    )


def lsh_buckets(emb: DataFrame, id_col: str, vec_col: str, dim: int,
                num_planes: int = 16,
                planes: list[Column] | None = None) -> DataFrame:
    """Random-hyperplane LSH: bucket = bit-string of sign(v·plane_i).
    Cosine-similar vectors land in the same bucket with high
    probability; the bucket key shuffles uniformly. ``planes``
    overrides the seeded pseudo-random planes (parity gates inject a
    constant plane to force one bucket through the REAL bit path)."""
    if planes is None:
        planes = [_plane(i, dim) for i in range(num_planes)]
    bits = [
        F.when(dot(F.col(vec_col), p) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    # num_planes=0 → one global bucket: degenerates to exact search,
    # which is the oracle configuration for parity checks
    bucket = F.concat(*bits) if bits else F.lit("")
    return emb.withColumn("bucket", bucket)


def ann_topk_lsh(emb: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
                 dim: int, k: int, num_planes: int = 8,
                 planes: list[Column] | None = None) -> DataFrame:
    """Scale-path ANN: join query and corpus on LSH bucket, exact
    re-rank inside buckets. Recall < 1 by construction (that's the
    trade); the brute-force operator is the accuracy oracle."""
    cb = lsh_buckets(emb, id_col, vec_col, dim, num_planes, planes).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        "bucket",
    )
    qb = lsh_buckets(queries, id_col, vec_col, dim, num_planes, planes).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        "bucket",
    )
    scored = (
        cb.join(F.broadcast(qb), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            rnd(cosine_arrow("qvec", "cvec"), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


# --------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-bucketed scale path
# --------------------------------------------------------------------

def ivf_train(emb: DataFrame, id_col: str, vec_col: str, k_lists: int = 16,
              iters: int = 2, return_assignment: bool = False):
    """Train IVF centroids with a short distributed Lloyd loop.

    Init is deterministic (the ``k_lists`` smallest ids). Each Lloyd
    iteration is ONE corpus pass: a ``mapInPandas`` stage assigns every
    batch to its nearest centroid (Arrow matmul against the broadcast
    centroid matrix) and emits only per-partition partial sums —
    (cluster, count, Σvec) — so the driver collects at most
    partitions × K × dim floats per iteration and finishes the average
    in numpy. No posexplode, no per-dimension shuffle, vectors never
    leave their partition.

    With ``return_assignment=True`` the corpus is assigned once more
    against the FINAL centroids and that frame is persisted and
    returned as ``(centroids, assigned)`` — :func:`ann_topk_ivf`
    accepts it so training + search share one list assignment instead
    of each paying a corpus pass (the caller unpersists, or lets
    ``clearCache`` between bench queries handle it).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    seed_rows = (
        emb.orderBy(F.col(id_col)).limit(k_lists)
        .select(F.col(vec_col).alias("v")).collect()
    )
    centroids = np.array([np.asarray(r["v"], dtype=np.float64) for r in seed_rows])
    src = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    spark = emb.sparkSession

    part_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )
    for _ in range(iters):
        cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        b_cn = spark.sparkContext.broadcast(cn)

        @worker_task
        def partials(iterator):
            cmat = b_cn.value
            k, dim = cmat.shape
            sums = np.zeros((k, dim))
            counts = np.zeros(k, dtype=np.int64)
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                rows = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
                normed = rows / np.linalg.norm(rows, axis=1, keepdims=True)
                cl = (normed @ cmat.T).argmax(axis=1)
                np.add.at(sums, cl, rows)
                np.add.at(counts, cl, 1)
            hit = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {"cluster": hit.astype("int32"), "n": counts[hit],
                 "s": list(sums[hit])}
            )

        upd = src.mapInPandas(partials, part_schema).collect()
        sums = np.zeros_like(centroids)
        counts = np.zeros(len(centroids), dtype=np.int64)
        for row in upd:
            sums[row["cluster"]] += np.asarray(row["s"])
            counts[row["cluster"]] += row["n"]
        hit = counts > 0  # empty lists keep their previous centroid
        centroids[hit] = sums[hit] / counts[hit, None]
    if return_assignment:
        assigned = _ivf_assign(src, centroids).persist()
        return centroids, assigned
    return centroids


def _ivf_assign(src: DataFrame, centroids) -> DataFrame:
    """Attach the nearest-centroid id (cosine) to each vector row."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = src.sparkSession
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    b_cn = spark.sparkContext.broadcast(cn)
    schema = T.StructType(
        [
            T.StructField("vid", T.LongType()),
            T.StructField("vec", T.ArrayType(T.FloatType())),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    @worker_task
    def batches(iterator):
        cmat = b_cn.value
        for pdf in iterator:
            rows = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            rows = rows / np.linalg.norm(rows, axis=1, keepdims=True)
            cl = (rows @ cmat.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame({"vid": pdf["vid"], "vec": pdf["vec"], "cluster": cl})

    return src.mapInPandas(batches, schema)


def ann_topk_ivf(emb: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
                 k: int, centroids, nprobe: int = 4,
                 assigned: DataFrame | None = None) -> DataFrame:
    """IVF search: corpus vectors live in their centroid's list; each
    query probes its ``nprobe`` nearest lists and re-ranks exactly
    inside them. Work per query drops from O(n) to O(n·nprobe/K);
    recall is tunable via nprobe (probe all K lists → exact).

    Pass ``assigned`` (the persisted (vid, vec, cluster) frame from
    ``ivf_train(..., return_assignment=True)``) to reuse the training
    assignment instead of re-scanning the corpus here.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..util import rnd

    spark = emb.sparkSession
    if assigned is None:
        assigned = _ivf_assign(
            emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
            centroids,
        )
    corpus = assigned.select(
        F.col("vid").alias("neighbor_id"), F.col("vec").alias("cvec"), "cluster",
    )
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    b_cn = spark.sparkContext.broadcast(cn)
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qvec", T.ArrayType(T.FloatType())),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    @worker_task
    def probes(iterator):
        cmat = b_cn.value
        for pdf in iterator:
            rows = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            rows = rows / np.linalg.norm(rows, axis=1, keepdims=True)
            # stable sort: exact similarity ties at the nprobe cut resolve
            # to the lower centroid index on every run/platform
            order = np.argsort(-(rows @ cmat.T), axis=1, kind="stable")[:, :nprobe]
            out_q, out_v, out_c = [], [], []
            for i, vid in enumerate(pdf["vid"]):
                for c in order[i]:
                    out_q.append(vid)
                    out_v.append(pdf["vec"].iloc[i])
                    out_c.append(int(c))
            yield pd.DataFrame({"query_id": out_q, "qvec": out_v, "cluster": out_c})

    q = queries.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    probed = q.mapInPandas(probes, probe_schema)
    scored = (
        corpus.join(F.broadcast(probed), on="cluster")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            rnd(cosine_arrow("qvec", "cvec"), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    # no dropDuplicates: each neighbor lives in exactly one list and
    # probes are distinct, so (query, neighbor) is unique by
    # construction — a dedup here would be a pointless extra shuffle
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def knn_classify(emb: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, label_col: str, k: int = 5) -> DataFrame:
    """k-NN majority-vote classification over the embedding space —
    the standard label-propagation / eval application of similarity
    search (assign each query the modal label of its k nearest
    neighbors by cosine).

    Composes :func:`ann_topk_bruteforce` (broadcast query set, one
    corpus pass, no corpus shuffle) with a per-query vote; ties break
    to the smaller label for determinism. Swap the brute-force
    neighbor source for :func:`ann_topk_lsh` / :func:`ann_topk_ivf`
    at corpus sizes where exact scoring is too hot — the vote is
    source-agnostic.
    """
    labels = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nlabel")
    )
    topk = ann_topk_bruteforce(emb, queries, id_col, vec_col, k)
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "_nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("_nlabel").asc()
    )
    return (
        votes.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "query_id",
            F.col("_nlabel").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
    )


def kmeans_centroids(emb: DataFrame, id_col: str, vec_col: str,
                     k: int = 8) -> DataFrame:
    """The centroid frame ``(cluster, c)`` after 2 Lloyd
    updates — the model half of :func:`kmeans_lloyd_exact`, exposed so
    consumers that assign OUTSIDE the batch plan (index builders) rank
    against the exact centroids the batch assignment uses."""
    from pyspark.sql import Window

    from ..util import rnd

    v = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )
    wseed = Window.orderBy(id_col)
    cent = (
        v.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(wseed) - 1).alias("cluster"),
            F.col("e").alias("c"),
        )
    )
    for _ in range(2):
        cos = rnd(cosine(F.col("e"), F.col("c")), 4)
        # argmax as a combinable max_by instead of a row_number window
        # (r13, guide §2.3/§2.4): the crossJoin emits every id's k
        # candidate rows in ONE partition, so partial aggregation
        # collapses them map-side — the shuffle carries |ids| rows, not
        # |ids|·k, and the per-id Sort disappears. The ordering key
        # (cos, −cluster) is UNIQUE per id (cluster ids are distinct),
        # so max_by is deterministic and picks exactly row_number's
        # (cos DESC, cluster ASC) winner.
        assigned = (
            v.crossJoin(F.broadcast(cent))
            .withColumn("cos", cos)
            .groupBy(id_col)
            .agg(F.max_by(
                F.struct("cluster", "e"),
                F.struct(F.col("cos"), (-F.col("cluster")).alias("nc")),
            ).alias("_a"))
            .select(id_col, F.col("_a.cluster").alias("cluster"),
                    F.col("_a.e").alias("e"))
        )
        means = (
            assigned.select(
                "cluster", F.posexplode(F.col("e")).alias("d", "val")
            )
            .groupBy("cluster", "d")
            .agg(rnd(F.avg("val"), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
        )
        # empty clusters keep their previous centroid
        cent = (
            cent.select("cluster", F.col("c").alias("c_prev"))
            .join(means, "cluster", "left")
            .select(
                "cluster", F.coalesce(F.col("c"), F.col("c_prev")).alias("c")
            )
        )
    return cent


def kmeans_lloyd_exact(emb: DataFrame, id_col: str, vec_col: str,
                       k: int = 8,
                       centroids: DataFrame | None = None) -> DataFrame:
    """Engine-reproducible Lloyd k-means — the oracled correctness
    twin of :func:`ivf_train` (same deterministic smallest-id init,
    same cosine-argmax assignment), built entirely from DataFrame ops
    so DuckDB SQL replays it bit-for-bit:

    - assignments rank by the ROUNDED cosine (ties → smaller cluster
      id), so an ulp near a decision boundary cannot flip engines;
    - updated centroids are ROUNDED per component after averaging, so
      iteration ``i+1`` starts from identical inputs in both engines
      (partial-agg vs sequential summation differences collapse).

    Shape at scale: the centroid frame (k rows) broadcasts into the
    assignment cross join; the mean update per-dimension explodes
    (rows × dim) into a uniform-key agg. That explode is this twin's
    deliberate cost — the production path (ivf_train) does the same
    update as Arrow partial sums in one corpus pass; this operator is
    the gate that pins its geometry, not its replacement.

    Returns the final assignment ``(id, cluster, cos)`` — ranked
    against the :func:`kmeans_centroids` frame after 2 Lloyd
    updates, so model and assignment stay one code path. Pass a
    prebuilt (cached) ``centroids`` frame to share one Lloyd training
    across the family's consumers — value-identical by construction
    (the assignment ranks against whatever centroid frame it gets).
    """
    from ..util import rnd

    v = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )
    cent = centroids if centroids is not None else kmeans_centroids(
        emb, id_col, vec_col, k=k)
    cos = rnd(cosine(F.col("e"), F.col("c")), 4)
    # same combinable-argmax shape as the update loop (see
    # kmeans_centroids): map-side collapse of the k candidate rows,
    # no per-id Sort; (cos, −cluster) is unique per id so the winner
    # is exactly row_number's (cos DESC, cluster ASC) row.
    return (
        v.crossJoin(F.broadcast(cent))
        .withColumn("cos", cos)
        .groupBy(id_col)
        .agg(F.max_by(
            F.struct("cluster", "cos"),
            F.struct(F.col("cos"), (-F.col("cluster")).alias("nc")),
        ).alias("_a"))
        .select(
            F.col(id_col),
            F.col("_a.cluster").cast("long").alias("cluster"),
            F.col("_a.cos").alias("cos"),
        )
    )


# quantize_embeddings' code range: 8-bit codes 0..255
QUANT_LEVELS = 255


def quantize_embeddings(emb: DataFrame, id_col: str, vec_col: str,
                        keep_vec: bool = False) -> DataFrame:
    """Per-vector affine int quantization of an embedding column — the
    standard vector-store compression (float32 → int8 is a 4× memory /
    bandwidth cut that barely moves cosine recall). Each vector
    carries its own (scale, zero) so dequantization is local:
    ``x ≈ q · scale + zero``.

    Quantized code = round((x − min) / scale) in [0, QUANT_LEVELS], with
    the cross-engine ``rnd`` collapse applied before the final round
    so an ulp at a .5 boundary can't flip a code between engines; a
    constant vector (max = min) quantizes to all zeros with scale 0.

    Shape at scale: one codegen map stage (`transform` +
    `array_min/max`), no shuffle, no Python. ``keep_vec=True`` carries
    the original vector column alongside the codes so quantize +
    compare consumers (the q76 recall gate) stay a single scan.
    """
    from ..util import rnd

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vmin, vmax = F.array_min(v), F.array_max(v)
    scale = (vmax - vmin) / F.lit(float(QUANT_LEVELS))
    q = F.when(
        vmax == vmin,
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            v,
            lambda x: F.round(rnd((x - vmin) / scale, 4))
            .cast("int"),
        )
    )
    cols = [F.col(id_col)]
    if keep_vec:
        cols.append(F.col(vec_col))
    return emb.select(
        *cols,
        q.alias("q"),
        rnd(scale, 8).alias("scale"),
        rnd(vmin, 8).alias("zero"),
    )


def _pca_lit_arr(xs):
    # ONE ndarray literal, not dim F.lit py4j round-trips (r11:
    # ~1100 driver-side lit() calls were ~0.7 s of q118's wall;
    # a python LIST still expands element-wise — only the ndarray
    # path makes a single Literal(ArrayType)); identical values
    import numpy as np

    return F.lit(np.asarray(xs, dtype=np.float64))


def _pca_dot_c(vec_col_, arr):
    return F.aggregate(
        F.zip_with(vec_col_, _pca_lit_arr(arr), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pca_power_topd_train(
    emb: DataFrame, id_col: str, vec_col: str, dim: int,
    n_components: int = 2, iters: int = 3,
) -> tuple[list[list[float]], list[float], DataFrame]:
    """Top-D principal components of an embedding corpus by
    distributed power iteration WITH DEFLATION, the full
    All-but-the-Top prescription (Mu & Viswanath 2018 remove the top
    D ≈ dim/100 directions, not just one). No covariance matrix is
    ever materialized: each iteration computes scores s_i = c_i·v as
    a map with the current v as a LITERAL array (the model broadcasts
    in the plan itself), then u = Σ s_i c_i as ONE map-combinable agg
    keyed by the ``dim`` dimension indices. Deterministic
    cross-engine contract (the q104 rounding-ladder scheme): μ and
    each u_d round at 6 digits; dot products and the norm
    pre-round at 8; v re-normalizes and rounds each iteration,
    sign-fixed so v[0] ≥ 0 — the DuckDB twin unrolls the same chain.

    Component k runs that iterate over
    vectors DEFLATED by components 1..k−1: the deflated vector is
    c − Σ_j p_j·v_j applied sequentially (p_j = the rnd8 dot with
    component j — the score-ladder rounding), so every deflation
    step, like every iterate, replays in SQL. Per component:
    ``iters`` corpus scans + dim-keyed combinable aggs, dim floats of
    model to the driver — total work D× the top-1 operator, still no
    covariance matrix, still bounded driver state (D·dim floats).

    Deflation (not simultaneous/block iteration) is the right
    distributed shape here: each component reuses the SAME audited
    top-1 kernel, convergence of component k is independent of k+1,
    and the oracle chain stays a mechanical unroll.

    The trainer is separate from :func:`pca_topd_project` so
    q109/q112/q118 share ONE training per session: returns
    ``([v_1..v_D], mu, centered)`` where ``centered`` is the
    locally-checkpointed (vid, c = x − μ) frame the projection ladder
    reads (materialized — consumers neither re-scan parquet nor
    re-run the dim-literal centering).
    """
    import numpy as np

    from ..util import rnd_np

    lit_arr, dot_c = _pca_lit_arr, _pca_dot_c
    v0 = float(rnd_np(np.float64(1.0 / np.sqrt(dim)), 8))
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    src = emb.select(F.col(id_col).alias("vid"), e.alias("e"))

    mu_rows = (
        src.select(F.posexplode("e").alias("d", "x"))
        .groupBy("d")
        .agg(rnd(F.avg("x"), 6).alias("mu"))
        .collect()
    )
    mu = [0.0] * dim
    for r in mu_rows:
        mu[r["d"]] = r["mu"]

    # deflated working frame: (vid, c) where c starts as x − μ and
    # loses one component per outer round. Checkpointed EAGERLY (r11,
    # VERDICT directive #4): without the cut, every one of component
    # 1's ``iters`` aggregate jobs re-plans parquet scan + cast +
    # 64-literal centering before the dot — measured ~40% of q118's
    # sf0.1 wall in plan/codegen alone; values unchanged (the
    # checkpoint materializes the identical frame)
    work = src.select(
        "vid", F.zip_with(F.col("e"), lit_arr(mu), lambda x, y: x - y).alias("c")
    ).localCheckpoint(eager=True)
    w0 = work  # the centered frame — the final projections read it too
    components: list[list[float]] = []
    spark = emb.sparkSession
    # the training jobs are model-sized (≤ N·dim exploded rows) and
    # their weight literals change every iteration, so whole-stage
    # codegen recompiles per job and never pays off — interpreted
    # eval is ~20% faster AND skips Janino (r11 measurement); values
    # are the same expressions either way. Restored in finally.
    # CAVEAT: the conf is SESSION-global — anything else executing on
    # this SparkSession during the loop runs interpreted too; the
    # lock serializes concurrent trainers so the restore can't race,
    # but sequential-query contexts (bench, tests, the driver) are
    # the design point.
    _CODEGEN_TOGGLE_LOCK.acquire()
    _wsc = None  # read/toggle inside the try: a py4j failure in
    # conf.get/conf.set must still release the lock and must not
    # "restore" a value that was never changed (r11 ADVICE)
    try:
        _wsc = spark.conf.get("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        for _k in range(n_components):
            v = np.full(dim, v0)
            for _ in range(iters):
                s = rnd(dot_c(F.col("c"), v), 8)
                u_rows = (
                    work.select(s.alias("s"), F.posexplode("c").alias("d", "cd"))
                    .groupBy("d")
                    .agg(rnd(F.sum(F.col("s") * F.col("cd")), 6).alias("u"))
                    .collect()
                )
                u = np.zeros(dim)
                for r in u_rows:
                    u[r["d"]] = r["u"]
                nrm = float(rnd_np(np.sqrt(np.sum(u * u)), 8))
                if nrm == 0.0:
                    raise ValueError(
                        "pca_power_topd_train: centered corpus has zero variance "
                        "along the iterate — degenerate input or "
                        "n_components > rank"
                    )
                v = rnd_np(u / nrm, 6)
                if v[0] < 0:
                    v = -v
            components.append([float(x) for x in v])
            # deflate: c ← c − p·v with p = the rnd8 score — elementwise
            # arithmetic on already-rounded inputs, so it replays exactly.
            # localCheckpoint per component (the bpe_train discipline):
            # the deflated expression nests a 64-literal zip_with per
            # round, and an uncut lineage re-inlines every earlier
            # component's deflation into each of the next component's
            # 2·iters aggregate jobs — measured 14.4 s → ~5 s at sf0.1
            # from plan compilation alone, values unchanged
            if _k == n_components - 1:
                break  # the last component's deflation is never read
            p = rnd(dot_c(F.col("c"), v), 8)
            work = work.select(
                "vid",
                F.zip_with(
                    F.col("c"), lit_arr(v), lambda x, y: x - p * y
                ).alias("c"),
            ).localCheckpoint(eager=True)
    finally:
        try:
            if _wsc is not None:
                spark.conf.set("spark.sql.codegen.wholeStage", _wsc)
        finally:
            _CODEGEN_TOGGLE_LOCK.release()
    return components, mu, w0


def pca_topd_project(centered: DataFrame, id_col: str,
                     components: list[list[float]]) -> DataFrame:
    """The pc1..pcD projection ladder over a centered (vid, c) frame
    from :func:`pca_power_topd_train`.
    Reading the CHECKPOINTED centered frame (its c IS x − μ,
    materialized) means the output job neither re-reads parquet nor
    re-runs the dim-literal centering (r11 plan cut — values
    bit-identical, the checkpoint stores the same doubles). With
    ``components[:1]`` this is the top-1 projection q109 outputs."""
    cexpr = F.col("c")
    proj_cols = []
    for k, v in enumerate(components):
        proj_cols.append(
            rnd(_pca_dot_c(cexpr, v), 6).alias(f"pc{k + 1}_proj"))
        pk = rnd(_pca_dot_c(cexpr, v), 8)
        cexpr = F.zip_with(cexpr, _pca_lit_arr(v), lambda x, y: x - pk * y)
    return centered.select(F.col("vid").alias(id_col), *proj_cols)


def apply_top1_removal(emb: DataFrame, id_col: str, vec_col: str,
                       v: list[float], mu: list[float]) -> DataFrame:
    """Apply a trained All-but-the-Top model (component ``v`` and
    mean ``mu``) without retraining: the residual
    ``r = (x − μ) − p·v`` is a batch matvec + rank-1 update per Arrow
    batch, every value rounded via ``rnd_np`` (the HALF_UP
    cross-engine ladder). One map stage, no join, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..util import rnd_np

    vv = np.asarray(v, dtype=np.float64)
    mm = np.asarray(mu, dtype=np.float64)
    schema = T.StructType(
        [
            T.StructField(id_col, emb.schema[id_col].dataType),
            T.StructField("resid", T.ArrayType(T.DoubleType())),
        ]
    )

    @worker_task
    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["_e"].to_numpy()).astype(np.float64)
            C = E - mm
            p = rnd_np(C @ vv, 6)
            R = rnd_np(C - p[:, None] * vv, 6)
            yield pd.DataFrame({id_col: pdf["_id"], "resid": list(R)})

    src = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_e"),
    )
    return src.mapInPandas(kernel, schema)


# k-means clusters semdedup prunes within (2 Lloyd iterations)
SEMDEDUP_K = 8


def semdedup(emb: DataFrame, id_col: str, vec_col: str,
             tau: float = 0.8,
             rows_per_chunk: int = 4096,
             assigned: DataFrame | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and pruning
    near-duplicates WITHIN each cluster — the curation step that
    removes "different words, same meaning" redundancy that lexical
    MinHash/SimHash shingle overlap cannot see.

    Algorithm: k-means over the embeddings (the engine-reproducible
    :func:`kmeans_lloyd_exact`, so the clustering itself is oracle-
    replayable), then inside each cluster score all pairs by rounded
    cosine and drop any vector whose cosine to a SMALLER-id cluster
    member reaches ``tau`` (the paper keeps one member per semantic-
    duplicate group; smallest-id makes that choice deterministic).
    Returns every input row as ``(id, cluster, kept)`` so callers can
    either filter on ``kept`` or audit the drop rate per cluster.

    Shape at scale — why this survives 100 TB where a global all-pairs
    (q34) cannot: the quadratic work is confined inside clusters, and
    cluster count grows with the corpus (the paper uses ~10⁵ clusters
    for billions of examples) so per-cluster membership stays bounded.
    The plan is ONE shuffle of (id, cluster, vec) keyed by cluster;
    pruning runs as a per-cluster Arrow task whose matmul is chunked
    (``rows_per_chunk`` columns at a time) so peak memory is
    |cluster| × rows_per_chunk doubles, never |cluster|² — the same
    bounded-block contract as :func:`cosine_dup_pairs`. Rounding
    matches ``util.rnd`` (8 digits then 4) so the verdict
    is cross-engine reproducible.

    Pass ``assigned`` (``(id, cluster)``) to reuse an existing
    clustering (e.g. the IVF training assignment) instead of paying a
    fresh Lloyd run.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if assigned is None:
        assigned = kmeans_lloyd_exact(emb, id_col, vec_col, k=SEMDEDUP_K)
    v = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )
    a = assigned.select(
        F.col(id_col).alias("_id"), F.col("cluster").cast("long")
    ).join(v, "_id")

    out_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    tau_raw = rnd_threshold(tau)

    @worker_task
    def prune(key, pdf):
        pdf = pdf.sort_values("_id")
        m = np.array([np.asarray(x, dtype=np.float64) for x in pdf["e"]])
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        m = m / nrm
        n = len(m)
        dropped = np.zeros(n, dtype=bool)
        for j0 in range(0, n, rows_per_chunk):
            j1 = min(j0 + rows_per_chunk, n)
            # rows 0..j1 against columns j0..j1 — only the strict
            # upper triangle (smaller id vs larger id) is consulted.
            # Only the BOOLEAN rnd(cos) >= tau verdict is needed, so
            # compare the RAW matmul against the exact double boundary
            # (rnd_threshold; rnd is monotone) instead of materializing
            # a rounded copy — the rnd_np pass was ~10 matrix-sized
            # temporaries and dominated the task (r13, guide §4.2).
            sims = m[:j1] @ m[j0:j1].T
            # strict-upper-triangle any() per column, vectorized (the
            # per-column python loop was ~|cluster| numpy calls per
            # chunk); row i counts against column j iff i < j
            tri = np.arange(j1)[:, None] < np.arange(j0, j1)[None, :]
            dropped[j0:j1] = ((sims >= tau_raw) & tri).any(axis=0)
        return pd.DataFrame(
            {
                "_id": pdf["_id"].to_numpy(),
                "cluster": np.full(n, key[0], dtype=np.int64),
                "kept": ~dropped,
            }
        )

    return (
        a.groupBy("cluster")
        .applyInPandas(prune, out_schema)
        .select(F.col("_id").alias(id_col), "cluster", "kept")
    )


def cluster_top_terms(labels: DataFrame, docs: DataFrame, id_col: str,
                      text_col: str, top_k: int = 3,
                      num_clusters: int | None = None) -> DataFrame:
    """Cluster profiling: the ``top_k`` most DISTINCTIVE terms per
    embedding cluster — what a curator reads to decide which semantic
    clusters to keep, downsample, or route (the companion report to
    :func:`semdedup` / IVF training; SemDeDup §4 and the classic
    cluster-labeling practice both profile clusters this way).

    Treats each cluster as one pseudo-document and scores terms by
    cluster-level TF-IDF: ``count(term in cluster) · ln(K / df)``
    where ``df`` is the number of clusters containing the term. Ties
    break (score DESC, term ASC) so the ranking is deterministic
    cross-engine; scores are ``rnd``-rounded.

    Shape at scale: one token explode keyed by (cluster, term) — the
    corpus never moves except for that uniform agg; the per-cluster
    term frame is orders of magnitude smaller than the corpus, and
    the final top-k is a per-cluster window over it. No Python.
    """
    toks = labels.select(F.col(id_col).alias("_id"), "cluster").join(
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("term"),
        ),
        "_id",
    )
    ct = toks.groupBy("cluster", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    # scalar aggregate (one long to the driver, same contract as
    # cosine_dup_pairs' block count); pass num_clusters to skip the
    # extra job when the label frame is an expensive lineage
    k_clusters = (
        num_clusters
        if num_clusters is not None
        else labels.select("cluster").distinct().count()
    )
    df_ = ct.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = ct.join(F.broadcast(df_), "term").select(
        "cluster",
        "term",
        rnd(
            F.col("tf") * F.log(F.lit(float(k_clusters)) / F.col("df")),
            4,
        ).alias("score"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select(F.col("cluster").cast("long").alias("cluster"),
                "rank", "term", "score")
    )


# --------------------------------------------------------------------
# Product quantization (PQ) — the vector-store compression for ANN at
# memory scales where even int8 full vectors don't fit
# --------------------------------------------------------------------

def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via JVM higher-order functions. Interpreted
    (no codegen) — acceptable on PQ SUBSPACES (dim/m components) and in
    the oracled twins; batch kernels own any full-dim hot path."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subspaces(emb: DataFrame, id_col: str, vec_col: str,
               dim: int, m: int) -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors:
    one ``(vid, sub, e)`` row per subspace — the shared input shape of
    PQ training, encoding, and ADC distance tables."""
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    d = dim // m
    parts = F.array(*[
        F.struct(
            F.lit(j).alias("sub"),
            F.transform(
                F.slice(F.col(vec_col), j * d + 1, d),
                lambda x: x.cast("double"),
            ).alias("e"),
        )
        for j in range(m)
    ])
    return emb.select(
        F.col(id_col).alias("vid"), F.explode(parts).alias("s")
    ).select("vid", F.col("s.sub").alias("sub"), F.col("s.e").alias("e"))


def pq_train_exact(emb: DataFrame, id_col: str, vec_col: str, dim: int,
                   m: int = 4, k: int = 8, iters: int = 2) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m`` subvectors and k-means each subspace independently — m
    codebooks of ``k`` codewords whose cross product spans ``k^m``
    reconstruction cells from only ``m·k`` stored centroids.

    Engine-reproducible by the q72 discipline: smallest-id init per
    subspace, assignment ranks by the ROUNDED squared-L2 (ties →
    smaller codeword id), centroid components rounded after every mean
    update — so DuckDB replays the whole loop value-for-value and the
    downstream code/ADC columns hash-match.

    Returns ``(sub, cluster, c)`` — the codebook frame (m·k rows; a
    broadcast-sized model at any corpus size).

    Shape at scale: one subspace explode (rows × m, map-side), each
    Lloyd step = broadcast codebook join + per-(vid, sub) window +
    per-component mean agg. Nothing corpus-sized converges on fewer
    keys than (sub, cluster, component).
    """
    v = _subspaces(emb, id_col, vec_col, dim, m)
    wseed = Window.partitionBy("sub").orderBy("vid")
    cent = (
        v.withColumn("rn", F.row_number().over(wseed))
        .where(F.col("rn") <= k)
        .select("sub", (F.col("rn") - 1).alias("cluster"),
                F.col("e").alias("c"))
    )

    def assign(cent_df):
        dist = rnd(l2sq(F.col("e"), F.col("c")), 6)
        w = Window.partitionBy("vid", "sub").orderBy(
            F.col("dist").asc(), F.col("cluster").asc()
        )
        return (
            v.join(F.broadcast(cent_df), "sub")
            .withColumn("dist", dist)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("vid", "sub", "cluster", "dist", "e")
        )

    for _ in range(iters):
        assigned = assign(cent)
        means = (
            assigned.select(
                "sub", "cluster", F.posexplode(F.col("e")).alias("d", "val")
            )
            .groupBy("sub", "cluster", "d")
            .agg(rnd(F.avg("val"), 6).alias("mu"))
            .groupBy("sub", "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "mu"))),
                    lambda s: s["mu"],
                ).alias("c")
            )
        )
        cent = (
            cent.select("sub", "cluster", F.col("c").alias("c_prev"))
            .join(means, ["sub", "cluster"], "left")
            .select(
                "sub", "cluster",
                F.coalesce(F.col("c"), F.col("c_prev")).alias("c"),
            )
        )
    return cent


def pq_codes(emb: DataFrame, id_col: str, vec_col: str,
             codebooks: DataFrame, dim: int, m: int = 4) -> DataFrame:
    """PQ encoding: each vector's nearest codeword per subspace —
    ``(id, sub, code)``, m small integers replacing dim floats (a
    ``m·log2(k)``-bit representation; 64 float32 dims at m=4, k=8 is
    256 bytes → 12 bits). Assignment uses the same rounded-L2 ranking
    as training, so codes are engine-reproducible.

    Shape at scale: subspace explode + broadcast codebook join + one
    (vid, sub)-keyed window. Map-side except the window shuffle, which
    is keyed by the uniform (vid, sub)."""
    v = _subspaces(emb, id_col, vec_col, dim, m)
    dist = rnd(l2sq(F.col("e"), F.col("c")), 6)
    w = Window.partitionBy("vid", "sub").orderBy(
        F.col("dist").asc(), F.col("cluster").asc()
    )
    return (
        v.join(F.broadcast(codebooks), "sub")
        .withColumn("dist", dist)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("vid").alias(id_col),
            F.col("sub").cast("long").alias("sub"),
            F.col("cluster").cast("long").alias("code"),
        )
    )


def ann_topk_pq(emb: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, dim: int, m: int = 4, k: int = 5,
                codebooks: DataFrame | None = None,
                codes: DataFrame | None = None, rerank: int = 0) -> DataFrame:
    """ANN retrieval over PQ codes with Asymmetric Distance
    Computation (Jégou et al. 2011 §III): the query stays exact; each
    corpus vector's distance is approximated as the sum over subspaces
    of (query subvector ↔ assigned codeword) distances — a table
    lookup per subspace instead of a dim-length scan.

    The distance table (queries × m × k rows) broadcasts; corpus CODES
    (m small ints per vector — the point of PQ) are all that streams.
    Rank is (ADC asc, id asc); self-matches are excluded like the
    brute-force operator.

    ``rerank=R`` engages the ADC+R refinement of Jégou §V: the ADC
    pass shortlists R candidates per query, then ONLY those R rows
    join back their full vectors for an exact cosine re-rank — the
    production recall lever (measured on the gate embeddings:
    raw 12-bit ADC top-5 overlaps exact top-5 at ~0.2; ADC→R=100
    rerank at ~0.9 while exactly scoring 20% of the corpus). Output
    then carries ``cosine`` instead of ``adc``.

    Shape at scale: codes ⨝ broadcast table → per-(query, vid) sum —
    one shuffle keyed by (query, vid), linear in corpus × queries × m;
    the rerank join touches Q·R rows, never the corpus. At very large
    Q·n the same lookup runs as an Arrow kernel over the packed code
    matrix; this composition is the oracled reference shape.

    METRIC CONTRACT (r8, from the recall study): ADC ranks by L2 over
    the RAW vectors while the rerank/ground truth is cosine. On
    L2-normalized embeddings the orderings coincide (||a−b||² =
    2−2cos); on unnormalized corpora they diverge and widening the
    candidate pool (higher nprobe in IVFADC) can REDUCE final recall
    — L2-close/cosine-far vectors flood the shortlist. A cosine
    deployment must normalize at ingest (the standard FAISS
    practice); tools/ivfpq_recall.py measures both regimes.
    """
    if codebooks is None:
        codebooks = pq_train_exact(emb, id_col, vec_col, dim, m)
    if codes is None:
        codes = pq_codes(emb, id_col, vec_col, codebooks, dim, m)
    qsub = _subspaces(queries, id_col, vec_col, dim, m).select(
        F.col("vid").alias("query_id"), "sub", F.col("e").alias("qe")
    )
    dtab = (
        qsub.join(F.broadcast(codebooks), "sub")
        .select(
            "query_id", "sub", F.col("cluster").alias("code"),
            rnd(l2sq(F.col("qe"), F.col("c")), 6).alias("dsub"),
        )
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(dtab), ["sub", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(rnd(F.sum("dsub"), 6).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    if not rerank:
        return ranked.where(F.col("rank") <= k)
    shortlist = ranked.where(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cv = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    refined = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            rnd(cosine_arrow("qvec", "cvec"), 4).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
    )


def ann_topk_ivfpq(emb: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, dim: int, centroids, codebooks: DataFrame,
                   codes: DataFrame, m: int = 4, k: int = 5,
                   nprobe: int = 4,
                   rerank: int = 0,
                   assigned: DataFrame | None = None) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV — the architecture behind every
    billion-vector store): an IVF coarse quantizer routes each query
    to its ``nprobe`` nearest lists, and ONLY the PQ codes of vectors
    living in those lists are ADC-scored — candidate work drops to
    O(n·nprobe/K) lookups of m bytes each, while the centroid matrix
    and distance table stay broadcast-sized.

    ``nprobe = k_lists`` probes everything and reduces EXACTLY to the
    plain ADC ranking (:func:`ann_topk_pq`) — the oracle
    configuration, same trick as the exhaustive-probe IVF gate.
    ``rerank=R`` refines the shortlist with exact cosine like
    :func:`ann_topk_pq`.

    Shape at scale: corpus list ids come from one Arrow assignment
    pass — or, cheaper, pass ``assigned`` (the persisted (vid, vec,
    cluster) frame from ``ivf_train(..., return_assignment=True)``)
    to reuse the training assignment instead of re-scanning the
    corpus, like :func:`ann_topk_ivf`. The (query, list) probe set
    and the distance table broadcast; the only shuffled stream is
    candidate codes keyed by (query, vid).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = emb.sparkSession
    if assigned is None:
        assigned = _ivf_assign(
            emb.select(
                F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
            ),
            centroids,
        )
    assigned = assigned.select("vid", "cluster")
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    b_cn = spark.sparkContext.broadcast(cn)
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    @worker_task
    def probes(iterator):
        cmat = b_cn.value
        for pdf in iterator:
            rows = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            rows = rows / np.linalg.norm(rows, axis=1, keepdims=True)
            # stable sort: exact similarity ties at the nprobe cut resolve
            # to the lower centroid index on every run/platform
            order = np.argsort(-(rows @ cmat.T), axis=1, kind="stable")[:, :nprobe]
            out_q = np.repeat(pdf["vid"].to_numpy(), order.shape[1])
            yield pd.DataFrame(
                {"query_id": out_q, "cluster": order.ravel().astype("int32")}
            )

    q = queries.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    probed = q.mapInPandas(probes, probe_schema)
    cand = (
        assigned.join(F.broadcast(probed), "cluster")
        .select("query_id", F.col("vid").alias("neighbor_id"))
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    qsub = _subspaces(queries, id_col, vec_col, dim, m).select(
        F.col("vid").alias("query_id"), "sub", F.col("e").alias("qe")
    )
    dtab = qsub.join(F.broadcast(codebooks), "sub").select(
        "query_id", "sub", F.col("cluster").alias("code"),
        rnd(l2sq(F.col("qe"), F.col("c")), 6).alias("dsub"),
    )
    scored = (
        cand.join(codes.withColumnRenamed(id_col, "neighbor_id"),
                  "neighbor_id")
        .join(F.broadcast(dtab), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(rnd(F.sum("dsub"), 6).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    if not rerank:
        return ranked.where(F.col("rank") <= k)
    shortlist = ranked.where(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cv = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    refined = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            rnd(cosine_arrow("qvec", "cvec"), 4).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
    )


# ann_topk_ivf_portable: neighbors returned and lists probed per query
ANN_K = 5
IVF_NPROBE = 2


def ann_topk_ivf_portable(emb: DataFrame, id_col: str, vec_col: str,
                          query_max_id: int, k_lists: int = 8,
                          centroids: DataFrame | None = None) -> DataFrame:
    """SUB-exhaustive IVF search on the engine-portable rounding
    ladder — the oracle-replayable twin of :func:`ann_topk_ivf`'s
    Arrow production path at ``IVF_NPROBE < k_lists``; ``centroids``,
    when given, is a :func:`kmeans_centroids` frame of ``k_lists``
    rows, otherwise one is trained here (2 Lloyd iterations). The exhaustive
    configurations are hash-gated elsewhere (q41/q100 probe all
    lists, reducing to the exact ranking); THIS operator pins the
    actual production regime — partial probing, where recall < 1 is
    the designed trade — with every step (centroid chain, corpus
    assignment, query routing, in-list ranking) on the rounded-cosine
    ladder so DuckDB replays the identical candidate set.

    Routing and assignment both rank by the ROUNDED cosine with
    cluster-ascending tie order (the :func:`kmeans_lloyd_exact`
    contract), so an ulp at the IVF_NPROBE cut cannot flip engines.

    Shape at scale: the k_lists-row centroid frame broadcasts into
    both the corpus assignment and the query routing; in-list search
    touches ~n·IVF_NPROBE/k_lists corpus rows per query — the IVF
    contract — and the rank window emits ANN_K rows per query.
    """
    from pyspark.sql import Window

    from ..util import rnd

    v = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )
    cent = centroids if centroids is not None else kmeans_centroids(
        emb, id_col, vec_col, k=k_lists)
    cosc = rnd(cosine(F.col("e"), F.col("c")), 4)
    wa = Window.partitionBy(id_col).orderBy(
        F.col("_cos").desc(), F.col("cluster").asc()
    )
    assigned = (
        v.crossJoin(F.broadcast(cent))
        .withColumn("_cos", cosc)
        .withColumn("_rk", F.row_number().over(wa))
        .where(F.col("_rk") == 1)
        .select(F.col(id_col).alias("neighbor_id"), "cluster",
                F.col("e").alias("ce"))
    )
    qv = v.where(F.col(id_col) <= query_max_id).select(
        F.col(id_col).alias("query_id"), F.col("e").alias("qe")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("cluster").asc()
    )
    route = (
        qv.crossJoin(F.broadcast(cent))
        .withColumn("_cos", rnd(cosine(F.col("qe"), F.col("c")), 4))
        .withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") <= IVF_NPROBE)
        .select("query_id", "qe", "cluster")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        route.join(assigned, "cluster")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            rnd(cosine(F.col("qe"), F.col("ce")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wk).cast("long"))
        .where(F.col("rank") <= ANN_K)
    )


def cluster_silhouette(emb: DataFrame, id_col: str, vec_col: str,
                       k: int = 8,
                       centroids: DataFrame | None = None) -> DataFrame:
    """Per-cluster simplified silhouette over the oracled Lloyd
    k-means geometry — the cluster-quality report a curator reads
    before trusting q86's cluster routing or q146's prototypicality
    pruning: is each cluster actually separated, or an artifact of k?

    Simplified (centroid-based) silhouette: with cosine distance
    d = 1 − cos, a point's a = distance to its OWN centroid, b =
    distance to the nearest OTHER centroid, s = (b − a) / max(a, b)
    — the standard O(n·k) approximation of the O(n²) pairwise
    silhouette (the all-pairs form is the exact-but-unscalable twin,
    like q34 vs q31). Both cosines come from the SAME rounded
    assignment ranking the k-means twin pins, so an ulp can't flip
    which centroid is "second"; the per-point score rides the rnd
    ladder into a per-cluster mean.

    Shape at scale: the k-row centroid frame broadcasts into the
    scoring cross join (the q72 assignment shape — one corpus map
    stage), then ONE id-keyed reduction and ONE k-row agg. No
    pairwise work anywhere.
    """
    from ..util import rnd

    v = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )
    cent = centroids if centroids is not None else kmeans_centroids(
        emb, id_col, vec_col, k=k)
    cos = rnd(cosine(F.col("e"), F.col("c")), 4)
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("cluster").asc()
    )
    top2 = (
        v.crossJoin(F.broadcast(cent))
        .withColumn("cos", cos)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .groupBy(id_col)
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cluster"))).alias("cluster"),
            F.max(F.when(F.col("rk") == 1, F.col("cos"))).alias("cos1"),
            F.max(F.when(F.col("rk") == 2, F.col("cos"))).alias("cos2"),
        )
    )
    den = F.greatest(F.lit(1.0) - F.col("cos1"), F.lit(1.0) - F.col("cos2"))
    s = rnd(
        F.when(den > 0, (F.col("cos1") - F.col("cos2")) / den)
         .otherwise(F.lit(0.0)),
        8,
    )
    return (
        top2.withColumn("_s", s)
        .groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            rnd(F.avg("_s"), 6).alias("mean_silhouette"),
            F.min("_s").alias("min_silhouette"),
        )
    )


def jl_project(emb: DataFrame, id_col: str, vec_col: str,
               out_dim: int = 16, seed_tag: str = "jl") -> DataFrame:
    """Seeded Johnson–Lindenstrauss random projection (Achlioptas
    2003: ±1 entries suffice) to ``out_dim`` components — the cheap
    dimensionality cut in front of ANN indexing or dedup blocking
    when 64 dims of float are still too wide to shuffle at 100 TB.

    The projection matrix is never materialized as data: entry
    sign(i, j) derives from ``md5(seed_tag_i_j)`` (first hex nibble
    < '8' → +1 else −1), the portable-hash family of Z66/Z68, so ANY
    engine replays the exact matrix from three literals. Output
    components are ``rnd8(rnd8(Σ_i x_i·s_ij) / sqrt(out_dim))`` —
    with out_dim a perfect square the scale is an exact double and
    the ladder keeps both engines bit-equal.

    Shape at scale: one posexplode (rows × D), a broadcast-sized
    cross with the out_dim literal range, and ONE (id, j)-keyed
    combinable agg — linear in corpus size, no pairwise anything.

    Returns the LONG component frame ``(id, j, y)`` (1-based j) —
    the shape downstream joins want; assemble arrays only at the
    edge if needed.
    """
    import math

    from ..util import rnd

    scale = math.sqrt(float(out_dim))
    if abs(scale - round(scale)) > 1e-12:
        raise ValueError("out_dim must be a perfect square so the "
                         "1/sqrt scale is an exact double")
    scale = float(round(scale))
    comp = emb.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_p", "_x"),
    ).select(F.col(id_col), (F.col("_p") + 1).alias("_i"), "_x")
    jdim = (
        comp.sparkSession.range(1, int(out_dim) + 1)
        .select(F.col("id").alias("j"))
    )
    sign = F.when(
        F.substring(
            F.md5(F.concat_ws("_", F.lit(seed_tag), F.col("_i"),
                              F.col("j"))),
            1, 1,
        ).isin(*list("01234567")),
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    return (
        comp.crossJoin(F.broadcast(jdim))
        .select(F.col(id_col), "j", rnd(F.col("_x") * sign, 8).alias("_t"))
        .groupBy(id_col, "j")
        .agg(rnd(rnd(F.sum("_t"), 8) / F.lit(scale), 8).alias("y"))
    )


def jl_distortion_audit(emb: DataFrame, id_col: str, vec_col: str,
                        out_dim: int = 16, max_id: int = 20) -> DataFrame:
    """Distortion audit for :func:`jl_project`: for every pair in a
    bounded id-sample, the ratio of projected to original squared
    Euclidean distance — the number that decides whether out_dim is
    high enough before the projection replaces the raw vectors in a
    dedup/ANN stage (JL lemma: ratios concentrate around 1 as
    out_dim grows; the pytest pins concentration tightening from 4
    to 36 dims).

    Pairwise ON PURPOSE and bounded by the ``max_id`` literal — the
    audit is sample²-sized, the projection itself stays linear.
    Squared-diff terms pre-round at 8; sums round at 6 digits;
    zero-distance pairs report NULL distortion.
    """
    from ..util import rnd

    sample = emb.where(F.col(id_col) <= max_id)
    comp = sample.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_p", "_x"),
    )
    a, b = comp.alias("a"), comp.alias("b")
    orig = (
        a.join(b, (F.col("a._p") == F.col("b._p"))
               & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            rnd((F.col("a._x") - F.col("b._x"))
                * (F.col("a._x") - F.col("b._x")), 8).alias("_d"),
        )
        .groupBy("id_a", "id_b")
        .agg(rnd(F.sum("_d"), 6).alias("orig_d2"))
    )
    y = jl_project(sample, id_col, vec_col, out_dim=out_dim)
    ya, yb = y.alias("ya"), y.alias("yb")
    proj = (
        ya.join(yb, (F.col("ya.j") == F.col("yb.j"))
                & (F.col(f"ya.{id_col}") < F.col(f"yb.{id_col}")))
        .select(
            F.col(f"ya.{id_col}").alias("id_a"),
            F.col(f"yb.{id_col}").alias("id_b"),
            rnd((F.col("ya.y") - F.col("yb.y"))
                * (F.col("ya.y") - F.col("yb.y")), 8).alias("_d"),
        )
        .groupBy("id_a", "id_b")
        .agg(rnd(F.sum("_d"), 6).alias("proj_d2"))
    )
    return orig.join(proj, ["id_a", "id_b"]).select(
        "id_a", "id_b", "orig_d2", "proj_d2",
        F.when(
            F.col("orig_d2") > 0,
            rnd(F.col("proj_d2") / F.col("orig_d2"), 6),
        ).alias("distortion"),
    )


def embedding_card(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """One-row embedding-corpus card — the sanity audit run before
    ANY vector stage (ANN, SemDeDup, PCA, quantization) trusts the
    table: vector count, NULL rows, dimension envelope (min ≠ max ⇒
    ragged arrays, the bug every downstream matmul hides as a crash),
    zero-norm count (cosine poison), and the norm envelope/mean —
    the embedding twin of q101's text corpus card.

    Norms use the in-order fold (:func:`norm` ≡ DuckDB list_sum) and
    pre-round at 8; only the mean needs the ladder — min/max of
    rounded norms are arithmetic-free.

    Shape at scale: one codegen map stage + one global combinable
    agg. Nothing shuffles but the 1-row aggregate tree.
    """
    from ..util import rnd

    e = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("_e"),
        F.when(F.col(vec_col).isNull(), 1).otherwise(0).alias("_isnull"),
        F.size(F.col(vec_col)).alias("_dim"),
    ).withColumn(
        "_nrm",
        F.when(F.col("_isnull") == 0, rnd(norm(F.col("_e")), 8)),
    )
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("_isnull").cast("long").alias("n_null"),
        F.min(F.when(F.col("_isnull") == 0, F.col("_dim")))
         .cast("long").alias("min_dim"),
        F.max(F.when(F.col("_isnull") == 0, F.col("_dim")))
         .cast("long").alias("max_dim"),
        F.sum(F.when(F.col("_nrm") == 0.0, 1).otherwise(0))
         .cast("long").alias("n_zero_norm"),
        F.min("_nrm").alias("min_norm"),
        F.max("_nrm").alias("max_norm"),
        rnd(F.avg("_nrm"), 6).alias("mean_norm"),
    )


def kcenter_select(df: DataFrame, id_col: str, vec_col: str,
                   k: int = 6) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal — the 2-approximation; the active-learning coreset of
    Sener & Savarese 2018): seed with the vector of largest norm, then
    ``k−1`` times pick the point farthest (squared euclidean) from the
    chosen set. The classic "cover the embedding space with k
    exemplars" selection a curator runs to pick maximally-diverse
    seed documents — the diversity-first complement of q146's
    prototypicality pruning (which keeps the CENTER of mass; this
    keeps the HULL).

    The O(n·k) shape, incrementalized: a running ``dmin`` column
    (distance to the nearest chosen center so far) is updated per
    round as ``least(dmin, d²(·, newest center))`` — each round is ONE
    scan + a 1-row TakeOrdered; the only driver state is the newest
    center's vector (dim floats, model-sized — the Lloyd-iteration
    contract). d² uses the dot-product identity
    ``⟨a,a⟩ + ⟨b,b⟩ − 2⟨a,b⟩`` with the self-products computed once,
    rounded at 6 digits so IEEE summation-order skew cannot flip
    an argmax; ties break on (rounded d² DESC, id ASC).

    Returns the selection trace: (sel_round, id, d2) with d2 = the
    chosen point's distance-to-set at selection (NULL for the seed) —
    the monotone non-increasing d2 column IS the coverage-radius
    curve (stop when d2 < tolerance).
    """
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    ).withColumn("n2", dot(F.col("e"), F.col("e")))

    def lit_arr(xs):
        return F.array(*[F.lit(float(x)) for x in xs])

    # the id column keeps ITS OWN type in the trace (string ids are
    # legal); the schema is derived from the input, not hardcoded
    id_type = df.schema[id_col].dataType.simpleString()
    spark = df.sparkSession
    out_schema = f"sel_round long, {id_col} {id_type}, d2 double"
    seed_rows = (
        base.select("vid", "e", rnd(F.col("n2"), 6).alias("r"))
        .orderBy(F.col("r").desc(), F.col("vid").asc())
        .limit(1)
        .collect()
    )
    if not seed_rows:
        return spark.createDataFrame([], out_schema)
    seed = seed_rows[0]
    picks = [(1, seed.vid, None)]
    # already-chosen ids leave the candidate pool: with duplicate
    # points every survivor of a pick has dmin=0, and without the
    # exclusion the argmax could re-pick a center forever
    cur = (
        base.where(F.col("vid") != F.lit(seed.vid))
        .withColumn("dmin", F.lit(None).cast("double"))
    )
    cvec = seed.e
    handles = []
    for rno in range(2, int(k) + 1):
        d2 = rnd(
            F.col("n2") + dot(lit_arr(cvec), lit_arr(cvec))
            - 2.0 * dot(F.col("e"), lit_arr(cvec)),
            6,
        )
        cur = cur.select(
            "vid", "e", "n2",
            F.least(F.coalesce("dmin", F.lit(float("inf"))), d2).alias("dmin"),
        ).persist()
        handles.append(cur)
        tops = (
            cur.orderBy(F.col("dmin").desc(), F.col("vid").asc())
            .limit(1)
            .collect()
        )
        if not tops:
            break  # k > n: the pool is exhausted, trace stays short
        top = tops[0]
        picks.append((rno, top.vid, float(top.dmin)))
        cvec = top.e
        cur = cur.where(F.col("vid") != F.lit(top.vid))
        # the new round's cache is materialized by the collect above;
        # everything older is dead lineage — release it eagerly
        while len(handles) > 1:
            handles.pop(0).unpersist()
    out = spark.createDataFrame(
        [(r, v, d) for r, v, d in picks], out_schema
    )
    for h in handles:
        h.unpersist()
    return out


def embedding_outliers(df: DataFrame, id_col: str, vec_col: str,
                       top_k: int = 20) -> DataFrame:
    """Per-dimension standardized outlier score over an embedding
    corpus — diagonal Mahalanobis: fit per-dim (μ_d, σ_d) in one
    explode-agg (D rows — model-sized), then score every vector by
    ``sqrt(mean_d ((x_d − μ_d)/σ_d)²)`` and return the top-k by score.
    The "is this embedding from the same distribution as the rest"
    audit run before SemDeDup/ANN trusts the table: corrupt encoders,
    wrong-model rows, and truncated vectors all land in the tail
    (complements q164's envelope card, which sees only norms/dims).

    Degenerate dims (σ_d = 0 — a constant coordinate) contribute 0 by
    definition. μ/σ are pre-rounded at 8, each per-dim term at 8, the
    final score at 6 digits (the rnd parity contract). Shape at
    scale: one N·D explode feeding a D-group agg, one broadcast join
    back, one per-id agg, one top-k TakeOrdered — no window, no
    Python, no driver state.
    """
    ex = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    ).select("vid", "d", F.col("x").cast("double").alias("x"))
    stats = ex.groupBy("d").agg(
        rnd(F.avg("x"), 8).alias("mu"),
        rnd(F.stddev_pop("x"), 8).alias("sd"),
    )
    z = (F.col("x") - F.col("mu")) / F.col("sd")
    # z*z, not pow(z, 2): both engines then run the identical multiply
    term = F.when(F.col("sd") > 0, rnd(z * z, 8)).otherwise(F.lit(0.0))
    scored = (
        ex.join(F.broadcast(stats), "d")
        .select("vid", term.alias("t"))
        .groupBy("vid")
        .agg(rnd(F.sqrt(F.avg("t")), 6).alias("mah"))
    )
    return (
        scored.orderBy(F.col("mah").desc(), F.col("vid").asc())
        .limit(int(top_k))
        .select(F.col("vid").alias(id_col), "mah")
    )


def fisher_separation(df: DataFrame, label_col: str,
                      vec_col: str) -> DataFrame:
    """Per-dimension Fisher discriminant ratio over a labeled
    embedding corpus: between-class variance / within-class variance
    for every coordinate — the "are these labels even separable in
    this embedding space" audit a curator runs before training a
    probe or trusting label-conditioned sampling (high-fisher dims
    carry the class signal; all-low means the labels are noise to
    this encoder).

    ``between_d = Σ_l n_l·(μ_{l,d} − μ_d)² / N`` and
    ``within_d = Σ_l n_l·σ²_{l,d} / N`` (the classic total-variance
    split), assembled from per-(label, dim) moments — one N·D explode
    into an (L·D)-group combinable agg (model-sized output), one
    D-row overall-mean frame broadcast back, one D-group reduction.
    No window, no Python, no driver state. Per-(label,dim) moments
    pre-round at 8, the ratio at 6 digits; within = 0 (constant
    dim inside every class) yields NULL, identically on both sides.
    """
    ex = df.where(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    ).select("lbl", "d", F.col("x").cast("double").alias("x"))
    per_ld = ex.groupBy("lbl", "d").agg(
        F.count(F.lit(1)).cast("double").alias("nl"),
        rnd(F.avg("x"), 8).alias("ml"),
        rnd(F.var_pop("x"), 8).alias("vl"),
    )
    per_d = ex.groupBy("d").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        rnd(F.avg("x"), 8).alias("m"),
    )
    j = per_ld.join(F.broadcast(per_d), "d")
    dev = F.col("ml") - F.col("m")
    out = j.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        rnd(F.sum(F.col("nl") * dev * dev) / F.first("n"), 8)
        .alias("var_between"),
        rnd(F.sum(F.col("nl") * F.col("vl")) / F.first("n"), 8)
        .alias("var_within"),
    )
    return out.select(
        F.col("d").cast("long").alias("d"),
        "n_classes", "var_between", "var_within",
        rnd(
            F.col("var_between") / F.nullif(F.col("var_within"), F.lit(0.0)),
            6,
        ).alias("fisher"),
    )


# allpairs_cosine_tfidf's stopword cut: the largest kept fraction of
# documents a term may appear in
APSS_MAX_DF_RATIO = 0.5


def allpairs_cosine_tfidf(df: DataFrame, text_col: str, id_col: str,
                          tau: float = 0.6) -> DataFrame:
    """All-pairs similarity search over sparse TF-IDF vectors with
    prefix filtering (Bayardo, Ma & Srikant, WWW 2007 — THE exact
    all-pairs algorithm at web scale): every document pair whose
    TF-IDF cosine ≥ ``tau``, WITHOUT the O(N²) scoring q34 pays —
    candidates come only from an inverted index over each document's
    PREFIX terms, chosen so the un-indexed suffix provably cannot
    reach ``tau`` on its own.

    Construction (all exact BIGINT/rnd-ladder arithmetic, fully
    SQL-replayable):
      1. tf → df → idf = ln((N+1)/(df+1)) rounded 8; unit-normalize
         per doc (u = tf·idf / ‖·‖, rounded 8).
      2. per-term max weight mw_t = max_d u_d(t) (one term-keyed agg).
      3. canonical term order (df ASC, term ASC) per doc; running
         cum(rn) = Σ_{j≤rn} rnd(u_j·mw_j, 8). A position is INDEXED
         iff cum(rn) − its own contribution ≤ rnd(full − tau, 8):
         every pair with cosine ≥ tau must then share an indexed
         term of at least one side (if all shared terms sit past the
         boundary of doc a, cos ≤ suffix mass < tau).
      4. candidates = indexed postings ⋈ ALL postings on term
         (either orientation, deduped unordered); verify = exact
         cosine from the shared-term dot product.

    Terms present in more than ``APSS_MAX_DF_RATIO`` of the
    documents drop from the vectors entirely BEFORE weighting — the
    standard APSS stopword cut (Bayardo §5 observes the hottest
    postings dominate candidate volume; their tf-idf weight is
    near-zero anyway, so the cosine barely moves while the posting
    join loses its quadratic head). A document whose every term is
    a stopword drops out (zero vector).

    The suffix holds the high-df / low-idf terms (order step 3), so
    the candidate join fans out on RARE terms only — the selectivity
    prefix filtering exists for. Shape at scale: three corpus-linear
    aggs (tf, df, norm), one term-keyed mw agg, one per-doc window
    over its OWN terms (doc-bounded, not corpus-bounded), and a
    candidate-bounded verify join. No all-pairs stage anywhere;
    cost degrades to q67's max_df-style bound, never to N².

    Returns (doc_a, doc_b, n_shared, cosine ≥ tau), cosine rounded at
    4 digits.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("t"),
    )
    tf = toks.groupBy("doc", "t").agg(
        F.count(F.lit(1)).cast("double").alias("tf"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    dfreq = tf.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df_"))
    dfreq = dfreq.where(
        F.col("df_") <= APSS_MAX_DF_RATIO * float(n_docs))
    w = (
        tf.join(dfreq, "t")
        .withColumn(
            "idf",
            rnd(F.log((F.lit(float(n_docs + 1))) / (F.col("df_") + 1)), 8),
        )
        .withColumn("w", rnd(F.col("tf") * F.col("idf"), 8))
    )
    nrm = w.groupBy("doc").agg(
        rnd(F.sqrt(F.sum(rnd(F.col("w") * F.col("w"), 8))), 8).alias("nrm"))
    u = (
        w.join(nrm, "doc")
        .where(F.col("nrm") > 0)
        .select("doc", "t", "df_",
                rnd(F.col("w") / F.col("nrm"), 8).alias("u"))
    )
    u = u.persist()
    mw = u.groupBy("t").agg(F.max("u").alias("mw"))
    wd = Window.partitionBy("doc").orderBy(
        F.col("df_").asc(), F.col("t").asc())
    scored = (
        u.join(mw, "t")
        .withColumn("c1", rnd(F.col("u") * F.col("mw"), 8))
        .withColumn("cum", rnd(F.sum("c1").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)), 8))
    )
    full = scored.groupBy("doc").agg(F.max("cum").alias("full"))
    post = (
        scored.join(full, "doc")
        .withColumn(
            "indexed",
            rnd(F.col("cum") - F.col("c1"), 8)
            <= rnd(F.col("full") - F.lit(float(tau)), 8),
        )
        .select("doc", "t", "u", "indexed")
        .persist()
    )
    idx = post.where(F.col("indexed")).select(
        F.col("doc").alias("xd"), F.col("t").alias("t"))
    allp = post.select(F.col("doc").alias("yd"), F.col("t").alias("t"))
    cand = (
        idx.join(allp, "t")
        .where(F.col("xd") != F.col("yd"))
        .select(
            F.least("xd", "yd").alias("doc_a"),
            F.greatest("xd", "yd").alias("doc_b"),
        )
        .distinct()
    )
    pa = post.select(F.col("doc").alias("doc_a"), "t",
                     F.col("u").alias("ua"))
    pb = post.select(F.col("doc").alias("doc_b"), "t",
                     F.col("u").alias("ub"))
    out = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "t"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            rnd(F.sum(rnd(F.col("ua") * F.col("ub"), 8)), 4)
            .alias("cosine"),
        )
        .where(F.col("cosine") >= float(tau))
    )
    out._cached_inputs = [u, post]  # see dedup.release()
    return out
