"""End-to-end corpus curation: the quality → exact-dedup →
decontaminate funnel a training-data pipeline runs before mixing
(RefinedWeb: Penedo et al. 2023 §3; CCNet: Wenzek et al. 2020) —
composed from this repo's first-class operators into ONE DataFrame
plan, so Catalyst optimizes across stage boundaries and every
document is attributed to the FIRST stage that rejects it.

This is the composition gate: each stage is individually oracled
elsewhere (q70 quality, q30 exact dedup, q81 winnow decontamination);
this module proves they compose into the real pipeline without
driver-side glue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import decontaminate_winnow
from .text import (
    budget_select,
    chunk_documents,
    epoch_shuffle,
    pack_sequences,
    quality_filter,
    quality_score,
    weighted_sample,
)


def curate_funnel(train: DataFrame, eval_df: DataFrame, text_col: str,
                  id_col: str, source_col: str) -> DataFrame:
    """Attribute every training document to its curation outcome:

    - ``quality``      — rejected by the composed C4/Gopher gate
      (:func:`~..text.quality_filter`);
    - ``duplicate``    — survived quality but is not the smallest-id
      holder of its exact text hash (md5 groupBy, q30 semantics);
    - ``contaminated`` — survived both but shares a winnowing
      fingerprint with the eval suite (contiguous-copy detection,
      q81 semantics);
    - ``kept``         — survived all three.

    Returns ``(id, source, n_words, stage)``; aggregate by (source,
    stage) for the funnel report, or filter ``stage = 'kept'`` for
    the output corpus.

    Ordering matters and is part of the contract: dedup ranks only
    among quality-passing docs (a rejected doc must not shadow a
    clean duplicate), and decontamination only scans dedup survivors
    (fingerprinting text that is already dropped is wasted work — at
    100 TB the quality gate removes most of the corpus before the
    only non-map stage runs).

    Shape at scale: quality is map-only + one doc-keyed explode/agg;
    dedup is one shuffle on the uniform md5 hash; decontamination
    broadcasts the eval fingerprint set. Everything shuffles at most
    once per stage on a uniform key; no driver state, no Python.

    Text is dropped from the spine immediately — the funnel flows as
    a NARROW (id, source, hash, verdicts) frame (the quality verdict
    frame is cached: kilobytes per million docs, referenced by two
    downstream joins, and its regex pipeline is the single most
    expensive stage — measured 3× the whole funnel when re-executed
    per reference). Winnowing re-joins the raw text for dedup
    SURVIVORS only, so the fingerprint stage scans the already-thinned
    corpus. Call ``dedup.release`` on the result after the consuming
    action to unpersist the verdict cache.
    """
    qf = quality_filter(train, text_col, id_col).select(
        id_col, "n_words", "keep"
    )
    qf = qf.cache()
    # the NARROW spine is cached too: it feeds three plan branches
    # (final attribution, the dedup window, the decon survivor join),
    # and without the cache each branch re-runs the full-corpus
    # md5(text) scan + quality join
    base = train.select(
        id_col, source_col, F.md5(F.col(text_col)).alias("_h")
    ).join(qf, id_col).cache()
    w = Window.partitionBy("_h").orderBy(F.col(id_col))
    qpass = base.where(F.col("keep") == 1).withColumn(
        "_rn", F.row_number().over(w)
    )
    dpass = train.select(id_col, text_col).join(
        qpass.where(F.col("_rn") == 1).select(id_col), id_col
    )
    flagged = decontaminate_winnow(
        dpass, eval_df, text_col, id_col
    ).select(id_col, F.lit(True).alias("_flag"))
    out = (
        base.join(qpass.select(id_col, "_rn"), id_col, "left")
        .join(flagged, id_col, "left")
        .select(
            id_col,
            source_col,
            "n_words",
            F.when(F.col("keep") == 0, "quality")
            .when(F.col("_rn") > 1, "duplicate")
            .when(F.col("_flag"), "contaminated")
            .otherwise("kept")
            .alias("stage"),
        )
    )
    out._cached_inputs = [qf, base]  # see functions.dedup.release
    return out


def assemble_training_data(docs: DataFrame, text_col: str, id_col: str,
                           source_col: str, k_per_source: int = 20,
                           budget_tokens: int = 600,
                           chunk_tokens: int = 32, overlap: int = 8,
                           capacity: int = 128, num_shards: int = 8,
                           epochs: int = 2,
                           source_weights: DataFrame | None = None
                           ) -> DataFrame:
    """End-to-end training-data ASSEMBLY — the sampling/packing half
    of the pipeline, downstream of :func:`curate_funnel`'s cleaning
    half: quality-weighted sampling (Efraimidis–Spirakis, q116) →
    per-source token-budget trim (q105) → overlapping token-window
    chunking (q71) → GPT-style sequence packing (q73) → per-epoch
    shuffle addressing (q113) — composed into ONE Catalyst plan with
    per-(source, stage) attribution, the q85 funnel pattern: one
    frame reports how many units and tokens each source carries
    through every stage, so a curator reads the whole assembly's
    shape from a handful of rows.

    Returns ``(source, stage_idx, stage, n_units, n_tokens)`` where
    ``n_units`` is the stage's natural unit — documents (corpus /
    sampled / trimmed), chunks, distinct packed sequences touched,
    epoch addresses — and ``n_tokens`` the whitespace-token mass at
    that stage (packing preserves the chunked mass; epoch addressing
    multiplies the trimmed mass by ``epochs``).

    Shape at scale: every stage is an already-audited operator —
    two source-keyed window shuffles (sample, trim), pure codegen
    chunking, one uniform shard shuffle (pack), one (epoch, shard)
    shuffle (addresses) — and the attribution aggregates are
    map-combinable rollups to |sources|×6 rows. Document ids flow
    between stages as narrow (id, source, tokens) frames; text is
    re-joined only where a stage genuinely tokenizes (chunking).
    No driver state, no Python, fully value-hash oracle-able.
    """
    # The six per-stage rollups below are UNION branches of one plan;
    # without caching, each branch re-computed its whole upstream
    # chain — the quality regex pipeline alone ran 6+ times per
    # execution (r12, guide §1.2). The branch-point frames are
    # persisted NARROW (text dropped — the spine design): kilobytes
    # per million docs, released via _cached_inputs.
    qs = quality_score(
        docs.select(id_col, source_col, text_col), text_col
    ).drop(text_col).persist()
    corpus = qs.select(id_col, source_col,
                       F.col("n_words").cast("long").alias("_nt"))
    # Optional mixture-weighting stage (r9): a model-sized
    # (source, weight) frame — e.g. the final-step slice of
    # text.doremi_weights — resizes each source's sample to
    # k·S·weight (floor 1, rounded), so a uniform mixture
    # (weight = 1/S each) reproduces the unweighted funnel exactly.
    k_overrides = None
    if source_weights is not None:
        sw = source_weights.select(
            F.col("source").alias(source_col),
            F.col("weight").cast("double").alias("_w"),
        )
        scnt = sw.agg(F.count(F.lit(1)).cast("double").alias("_s"))
        k_overrides = sw.crossJoin(F.broadcast(scnt)).select(
            source_col,
            F.greatest(
                F.lit(1),
                F.round(F.lit(float(k_per_source)) * F.col("_s")
                        * F.col("_w")).cast("long"),
            ).alias("_k"),
        )
    sampled = weighted_sample(qs, id_col, source_col, "quality",
                              k=k_per_source,
                              k_overrides=k_overrides).persist()
    samp_docs = docs.select(id_col, source_col, text_col).join(
        sampled.select(id_col), id_col
    )
    trim = budget_select(samp_docs, text_col, id_col, source_col,
                         budget_tokens)
    kept = trim.where(F.col("kept") == 1).select(
        id_col, source_col, F.col("n_tokens").cast("long").alias("_nt")
    ).persist()
    kept_docs = docs.select(id_col, text_col).join(
        kept.select(id_col), id_col
    )
    chunks = chunk_documents(kept_docs, text_col, id_col,
                             chunk_tokens=chunk_tokens, overlap=overlap
                             ).select(id_col, "chunk_id",
                                      "n_chunk_tokens").persist()
    packed = pack_sequences(chunks, [id_col, "chunk_id"],
                            "n_chunk_tokens", capacity=capacity,
                            num_shards=num_shards)
    addr = epoch_shuffle(kept.select(id_col), id_col, epochs=epochs,
                         num_shards=num_shards)
    src_of = kept.select(id_col, source_col, "_nt")

    def report(idx, name, grouped):
        return grouped.select(
            F.col(source_col).alias("source"),
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("n_units").cast("long").alias("n_units"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )

    s0 = report(0, "corpus", corpus.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_units"), F.sum("_nt").alias("n_tokens")))
    s1 = report(1, "sampled", sampled.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.col("n_words").cast("long")).alias("n_tokens")))
    s2 = report(2, "trimmed", kept.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_units"), F.sum("_nt").alias("n_tokens")))
    s3 = report(3, "chunked", chunks.join(src_of, id_col).groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("n_chunk_tokens").alias("n_tokens")))
    s4 = report(4, "packed", packed.join(src_of, id_col).groupBy(source_col).agg(
        F.countDistinct(F.struct("shard", "seq_id")).alias("n_units"),
        F.sum("n_tokens").alias("n_tokens")))
    s5 = report(5, "shuffled", addr.join(src_of, id_col).groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_units"), F.sum("_nt").alias("n_tokens")))
    out = s0.unionByName(s1).unionByName(s2).unionByName(s3) \
             .unionByName(s4).unionByName(s5)
    out._cached_inputs = [qs, sampled, kept, chunks]  # see dedup.release
    return out


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """Corpus snapshot diff: classify every document across two corpus
    versions as added / removed / changed / unchanged and roll the
    verdicts up per source — the audit a pipeline runs between crawl
    snapshots before deciding what to re-process (the batch twin of
    CDC; the reference's file-upload/delete bookkeeping in
    api/services.py:80-176 tracks the same add/remove lifecycle at
    file granularity).

    Both sides are projected to ``(id, source, md5, length)`` BEFORE
    the join, so document text never crosses the shuffle — at 100 TB
    the full-outer join moves ~50 bytes/doc, keyed by the unique doc
    id (no skew by construction). The rollup is a combinable agg.
    NULL text is coalesced to '' so such docs diff as real rows
    instead of vanishing into NULL-md5 limbo.
    """
    def fp(df: DataFrame, prefix: str) -> DataFrame:
        t = F.coalesce(F.col(text_col), F.lit(""))
        return df.select(
            F.col(id_col).alias("_id"),
            F.col("source").alias(f"{prefix}_source"),
            F.md5(t).alias(f"{prefix}_h"),
            F.length(t).cast("long").alias(f"{prefix}_len"),
        )

    j = fp(old, "o").join(fp(new, "n"), "_id", "full_outer")
    status = (
        F.when(F.col("o_h").isNull(), F.lit("added"))
        .when(F.col("n_h").isNull(), F.lit("removed"))
        .when(F.col("o_h") != F.col("n_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    n_chars = F.when(F.col("n_h").isNull(), F.col("o_len")).otherwise(
        F.col("n_len")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("n_source", "o_source").alias("source"),
            n_chars.alias("_len"),
        )
        .groupBy("status", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_len").cast("long").alias("n_chars"),
        )
    )
