"""Structured Streaming variants of the engine's time-series operators
(SURVEY.md §2.4).

The reference's "streaming" reality is incremental re-upload of sar
files (mng_sar.py) — each new file re-parsed and appended. Here that
becomes real incremental processing: a file source watches a
directory, new files flow through the same long schema, and windowed /
stateful operators maintain results continuously. Watermarks bound
state so a 100 TB/day stream can't accumulate unbounded aggregation
buffers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import worker_task


def stream_events(spark: SparkSession, path: str, schema: T.StructType,
                  fmt: str = "parquet") -> DataFrame:
    """Incremental ingest (ST1): every new file in ``path`` is picked
    up exactly once — the streaming twin of the reference's re-upload
    flow."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def windowed_agg(stream: DataFrame, ts_col: str, window: str, watermark: str,
                 by: list[str], aggs: list[Column]) -> DataFrame:
    """Windowed aggregation with late-data handling (ST2): tumbling
    windows over event time; the watermark drops state for windows
    older than the threshold, keeping memory bounded."""
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *by)
        .agg(*aggs)
    )
    agg_cols = [c for c in out.columns if c != "window" and c not in by]
    return out.select(F.col("window.start").alias("bucket"), *by, *agg_cols)


def run_batch_equivalent(stream_out: DataFrame, query_name: str,
                         spark: SparkSession,
                         output_mode: str = "complete") -> DataFrame:
    """Drain a (finite) stream into an in-memory table and return it as
    a batch DataFrame — the test harness for streaming parity.
    ``output_mode`` defaults to ``complete`` (right for aggregated
    streams); pass ``append`` for stateless / watermark-append streams
    — complete mode is illegal without a streaming aggregation."""
    q = (
        stream_out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(query_name)


def rate_stream(stream: DataFrame, ts_col: str, key_col: str,
                value_col: str, round_to: int = 4) -> DataFrame:
    """Streaming counter→rate conversion (ST4): the streaming twin of
    ``operators.timeseries.delta_rate``, which needs ``lag`` — a window
    Structured Streaming cannot express. ``applyInPandasWithState``
    keeps one (last_ts, last_value) pair per series as explicit state:
    each micro-batch sorts its rows, takes per-second deltas against
    the carried state, and updates it, so rates are continuous across
    batch boundaries and state is O(1) per series regardless of stream
    length.

    Matches the batch operator row-for-row on any prefix-ordered
    replay: first sample of a series → null rate; non-positive time
    delta → null rate (duplicate timestamps / clock steps). The raw
    rate leaves the Python function unrounded; rounding happens
    JVM-side through the same ``util.rnd`` the batch operator uses, so
    the two agree exactly even on half-boundary values.
    """
    from ..util import rnd

    out_schema = T.StructType([
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("raw_rate", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_s", T.LongType()),
        T.StructField("last_val", T.DoubleType()),
    ])

    @worker_task
    def fn(key, pdf_iter, state):
        import pandas as pd

        (series,) = key
        last_s, last_val = state.get if state.exists else (None, None)
        # a group's micro-batch arrives as MULTIPLE Arrow chunks in no
        # guaranteed order — materialize and sort the WHOLE batch, or
        # deltas straddle chunk boundaries against the wrong sample
        # (a series is bounded per micro-batch; O(1) state still holds)
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        ts = pdf[ts_col]
        if getattr(ts.dtype, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        secs = ts.astype("int64") // 1_000_000_000  # epoch seconds
        vals = pdf[value_col].astype("float64")
        prev_s = secs.shift(1).astype("float64")
        prev_v = vals.shift(1)
        if last_s is not None:
            prev_s.iloc[0] = last_s
            prev_v.iloc[0] = last_val
        dt = secs - prev_s
        rate = (vals - prev_v) / dt
        rate[~(dt > 0)] = float("nan")
        state.update((int(secs.iloc[-1]), float(vals.iloc[-1])))
        yield pd.DataFrame(
            {
                "series": series,
                "ts": pdf[ts_col],
                "value": vals,
                "raw_rate": rate,
            }
        )

    out = stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
    return out.select(
        "series", "ts", "value", rnd(F.col("raw_rate"), round_to).alias("rate")
    )


def sessionize_stream(stream: DataFrame, ts_col: str, key_col: str,
                      gap_seconds: int, watermark: str) -> DataFrame:
    """Stateful gap-based sessionization (ST3) using the built-in
    session window — state is per key, closed once the watermark passes
    the gap, emitted exactly once."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            key_col,
            "n_events",
            "session_start",
            "session_end",
        )
    )


def dedup_stream(stream: DataFrame, text_col: str, ts_col: str,
                 watermark: str) -> DataFrame:
    """Streaming exact dedup (ST5): the streaming twin of
    ``functions.dedup.exact_dedup``. Content-hash state per md5 digest;
    ``dropDuplicatesWithinWatermark`` keeps the first arrival of each
    digest and expires state once the watermark passes it, so a
    continuous ingest stream dedups with bounded memory — the digest
    set never outgrows the watermark horizon.

    Batch keeps the smallest id per digest, streaming keeps the first
    arrival — the surviving *digest set* is identical; parity is tested
    on that.
    """
    return (
        stream.withColumn("_digest", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def quality_gate_stream(stream: DataFrame, text_col: str,
                        min_words: int = 20,
                        max_punct_ratio: float = 0.3,
                        langs: tuple[str, ...] = ("en", "de", "es", "fr"),
                        ) -> DataFrame:
    """Streaming document quality gate (ST6): the stateless subset of
    ``functions.text.quality_filter`` applied to a document stream —
    length, punctuation, and detected-language rules are pure map
    stages, so the EXACT batch operators run unchanged on a readStream
    frame (no state, no watermark, bounded memory by construction).
    The repetition rules need per-doc aggregation and stay in the
    batch scrub; an ingest-side gate drops the obvious rejects before
    they ever hit storage.
    """
    from ..functions.text import lang_id, quality_score

    gated = lang_id(quality_score(stream, text_col), text_col)
    return gated.where(
        (F.col("n_words") >= min_words)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & F.col("pred_lang").isin(list(langs))
    )


def near_dup_candidates_stream(stream: DataFrame, text_col: str,
                               id_col: str, shingle_n: int = 3,
                               num_hashes: int = 64,
                               bands: int = 16,
                               state_ttl_ms: int = 3_600_000) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates (ST7): the
    streaming half of the dedup composition — candidate generation
    runs continuously at ingest; exact-Jaccard re-ranking stays a
    batch job over the emitted pairs (the same split as the batch
    q56 pipeline).

    Signatures are computed PER ROW with array higher-order functions
    (a stream cannot pay the batch explode+groupBy shuffle per
    micro-batch); the hash family is identical to
    ``functions.dedup.minhash_signatures`` — xxhash64 of the shingle
    fingerprint seeded per hash index — and the band key formula is
    the exact ``minhash_bands`` one, so streaming band keys equal
    batch band keys value-for-value.

    Expression-shape caveat that is the whole design here: HOFs run
    interpreted with NO common-subexpression caching, so nesting the
    signature array inside ``minhash_bands``'s ``element_at`` calls
    re-evaluates the entire shingle pipeline 64×64 times per row
    (measured: minutes per micro-batch). Instead each of the 64 mins
    is its own column expression referenced by EXACTLY ONE band, so
    per-row work is 64 shingle evaluations — the stream's inherent
    per-row trade; bulk (re)processing should use the batch family.

    State is ONE long per band key: the first document to arrive
    claims the band (the bucket's representative); every later
    arrival emits ``(doc, anchor, band)``. The emission is an
    anchored STAR, not the batch clique — state stays bounded no
    matter how hot a bucket gets, and for dedup the star suffices
    (every near-dup is linked to its bucket representative; the
    batch verifier resolves clusters). Docs are processed in id
    order inside a micro-batch, so replaying the same files yields
    the same anchors. ``state_ttl_ms`` bounds TOTAL state (one long
    per band key seen within the horizon): an idle bucket's anchor
    expires and a later revisit re-anchors — the same horizon trade
    watermark-bounded dedup makes.
    """
    import pandas as pd

    from ..functions.dedup import word_shingles

    fps = F.transform(
        word_shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)
    )
    mins = [
        F.array_min(
            F.transform(fps, lambda fp: F.xxhash64(fp, F.lit(i)))
        )
        for i in range(num_hashes)
    ]
    rows_per_band = num_hashes // bands
    # identical formula to functions.dedup.minhash_bands, but over the
    # per-hash columns (one reference each) instead of element_at into
    # a recomputed signature array
    band_keys = [
        F.xxhash64(
            F.lit(b),
            F.concat_ws(
                "_",
                *[
                    mins[b * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            ),
        )
        for b in range(bands)
    ]
    banded = stream.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array(*band_keys)).alias("band"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("anchor", T.LongType()),
            T.StructField("band", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("anchor", T.LongType())])

    @worker_task
    def fn(key, pdf_iter, state):
        (band,) = key
        if state.hasTimedOut:
            state.remove()
            return
        anchor = state.get[0] if state.exists else None
        # chunks arrive in no guaranteed order — gather the whole
        # group's micro-batch before picking the id-ordered anchor
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        docs = pd.concat(chunks, ignore_index=True).sort_values("doc")["doc"]
        rows = []
        for doc in docs:
            if anchor is None:
                anchor = int(doc)
            elif int(doc) != anchor:
                rows.append((int(doc), anchor, band))
        state.update((anchor,))
        # TTL bounds total state: a band bucket idle past the horizon
        # forgets its anchor (like dropDuplicatesWithinWatermark's
        # horizon trade — a later revisit re-anchors)
        state.setTimeoutDuration(state_ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=["doc", "anchor", "band"])

    return banded.groupBy(F.col("band")).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "ProcessingTimeTimeout"
    )


def passage_novelty_stream(stream: DataFrame, text_col: str, id_col: str,
                           ts_col: str, watermark: str,
                           passage_words: int = 8) -> DataFrame:
    """Streaming passage-level dedup (ST9): the ingest-side twin of
    ``functions.dedup.passage_dedup``. Documents explode into
    consecutive ``passage_words``-word passages (a stateless map —
    same split/sequence/slice chain as the batch operator), then
    ``dropDuplicatesWithinWatermark`` on the passage md5 keeps only
    the FIRST arrival of each passage: previously-seen boilerplate is
    cut at ingest, before it ever lands in storage. State is one
    digest per distinct passage inside the watermark horizon —
    bounded, like ST5.

    Batch keeps the min-(doc, position) occurrence; streaming keeps
    the first arrival. When files arrive in doc order the surviving
    (doc, idx) set is identical — the parity the test pins.
    Reconstruction (stitching survivors back into clean_text) stays a
    batch compaction over the emitted passages, same split as ST7's
    candidates-vs-verify."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_pass = F.greatest(
        F.lit(1),
        F.ceil(F.array_size(words) / F.lit(float(passage_words))).cast("int"),
    )
    passages = (
        stream.select(
            F.col(id_col),
            F.col(ts_col),
            words.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("idx"),
        )
        .select(
            id_col,
            ts_col,
            F.col("idx").cast("long").alias("idx"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_w"),
                    F.col("idx").cast("int") * passage_words + 1,
                    passage_words,
                ),
            ).alias("passage"),
        )
        .withColumn("_h", F.md5("passage"))
    )
    return (
        passages.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def corpus_stats_stream(stream: DataFrame, ts_col: str, text_col: str,
                        source_col: str, window: str,
                        watermark: str) -> DataFrame:
    """Streaming ingest monitor (ST10): per-(window, source) doc and
    token counts plus mean quality over a document stream — the live
    twin of the q101 corpus card, watching a crawl land instead of
    summarizing it afterwards. Composes the SAME quality_score map
    stage batch uses (stateless), then one watermarked windowed agg —
    state is a few numbers per (window, source), closed monotonically.
    """
    from ..functions.text import quality_score

    scored = quality_score(stream, text_col)
    return windowed_agg(
        scored, ts_col, window, watermark, [source_col],
        [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.avg("quality").alias("avg_quality"),
        ],
    )


def semdedup_verdicts_stream(stream: DataFrame, id_col: str, vec_col: str,
                             centroids: list[tuple[int, list[float]]],
                             tau: float = 0.8, round_to: int = 4,
                             max_anchors: int = 256,
                             state_ttl_ms: int = 3_600_000) -> DataFrame:
    """Streaming SemDeDup (ST11): the ingest-side twin of
    ``functions.similarity.semdedup`` — the one batch dedup family
    that had no streaming stage until round 6.

    Per-row CLUSTER ASSIGNMENT runs stateless against the broadcast
    centroid list with the exact ``kmeans_lloyd_exact`` rule (rounded
    cosine DESC, cluster ASC on ties), so stream assignments equal the
    batch assignment frame value-for-value. Then one
    ``applyInPandasWithState`` keyed by cluster holds up to
    ``max_anchors`` KEPT representative vectors per cluster, stored
    pre-normalized so each batch rebuilds the anchor matrix once and
    appends incrementally (the anchored-star bound, like ST7: state is
    capped no matter how hot a cluster runs). Each arriving vector, in id order within the
    micro-batch, is scored against the stored anchors with the same
    normalized-matmul + ``rnd_np`` ladder the batch pruner uses:
    cosine ≥ ``tau`` to any anchor → ``kept=false`` with the smallest
    matching anchor id; otherwise ``kept=true`` and the vector joins
    the anchor set while capacity remains (beyond capacity it is kept
    but unremembered — later duplicates of IT are missed, the explicit
    price of bounded state, same horizon trade as ``state_ttl_ms``).

    Semantics note vs batch: batch SemDeDup drops a vector similar to
    ANY smaller-id cluster member (kept or dropped); the stream
    compares against KEPT members only — on transitive-chain corpora
    (a~b, b~c, a!~c) the stream keeps c where batch drops it. For
    twin-planted and threshold-tight corpora the verdicts coincide
    (pinned by tests/test_streaming.py batch-parity).
    """
    import numpy as np
    import pandas as pd

    from ..util import rnd_np

    order = sorted(centroids)
    cmat = np.array([np.asarray(c, dtype=np.float64) for _, c in order])
    cnrm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnrm[cnrm == 0.0] = 1.0
    cmat_n = cmat / cnrm
    cids = np.asarray([cid for cid, _ in order], dtype=np.int64)

    @worker_task
    def _assign_batch(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        cos = rnd_np((m / nrm) @ cmat_n.T, round_to)
        # argmax returns the FIRST max — with centroids sorted by
        # cluster id that is exactly the (cos DESC, cluster ASC) rule
        return pd.Series(cids[np.argmax(cos, axis=1)])

    # explicit returnType (no type-hint inference): pd is module-local
    assign = F.pandas_udf(_assign_batch, T.LongType())

    assigned = stream.select(
        F.col(id_col).alias("doc"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
        assign(F.col(vec_col)).alias("cluster"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("kept", T.BooleanType()),
            T.StructField("anchor", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("anchor_ids", T.ArrayType(T.LongType())),
            T.StructField("anchor_vecs",
                          T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    @worker_task
    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids_list = list(state.get[0])
            vec_list = [list(v) for v in state.get[1]]
        else:
            ids_list, vec_list = [], []
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            # re-arm the TTL even when the batch delivered no rows for
            # this key, so live state never expires mid-stream
            if state.exists:
                state.setTimeoutDuration(state_ttl_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc")
        # anchors are stored PRE-NORMALIZED (v/||v|| at append time —
        # the same floats the old per-row renormalization produced);
        # build the matrix once per batch, append rows incrementally:
        # O(rows x anchors x dim) multiply only, not per-row array
        # construction
        amat_n = (np.asarray(vec_list, dtype=np.float64)
                  if vec_list else None)
        rows = []
        for doc, vec in zip(pdf["doc"], pdf["e"]):
            v = np.asarray(vec, dtype=np.float64)
            n = np.linalg.norm(v)
            vn = v / (n if n else 1.0)
            anchor = None
            if amat_n is not None:
                sims = rnd_np(amat_n @ vn, round_to)
                hits = np.flatnonzero(sims >= tau)
                if hits.size:
                    anchor = int(min(ids_list[h] for h in hits))
            if anchor is None:
                if len(ids_list) < max_anchors:
                    ids_list.append(int(doc))
                    vec_list.append([float(x) for x in vn])
                    amat_n = (vn[None, :] if amat_n is None
                              else np.vstack([amat_n, vn]))
                rows.append((int(doc), int(key[0]), True, None))
            else:
                rows.append((int(doc), int(key[0]), False, anchor))
        state.update((ids_list, vec_list))
        state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            rows, columns=["doc", "cluster", "kept", "anchor"]
        )

    return assigned.groupBy(F.col("cluster")).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "ProcessingTimeTimeout"
    )


def duplicated_grams_stream(stream: DataFrame, text_col: str, id_col: str,
                            k: int = 8,
                            state_ttl_ms: int = 3_600_000) -> DataFrame:
    """Streaming duplicated-gram detection (ST13): the ingest-side
    half of the q106 repeated-span detector, completing the streaming
    dedup family (ST5 exact doc, ST9 exact passage, ST7 lexical
    near-dup, ST11 semantic). Each document's stride-1 word ``k``-gram
    hashes — the exact ``_pos_gram_hashes`` md5 family, so stream
    hashes equal batch hashes value-for-value — key a counter state;
    every arrival of a gram already seen emits ``(doc, pos, h,
    n_occ)``. Span MERGING stays a batch job over the emitted hits
    (the q106 lag/running-sum pattern), mirroring the ST7 split:
    candidates at ingest, verification offline.

    State is ONE small count per distinct gram inside the TTL horizon
    — the ST9 trade (state ∝ distinct grams in the window; an idle
    gram expires and a later repeat re-counts from one).
    """
    import pandas as pd

    from ..functions.dedup import gram_hash_expr, tokens_expr

    # per-row gram hashing with array ops (a stream cannot pay the
    # batch explode+window shuffle per micro-batch): the SHARED
    # tokenize + hash expressions of _pos_gram_hashes, value-identical.
    # Guarded sequence: sequence(0, -1) is NOT empty in Spark (the
    # default step turns descending), so short/null documents take the
    # explicit empty branch — like the batch builder, they emit nothing
    toks = tokens_expr(F.col(text_col))
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: gram_hash_expr(
                F.concat_ws(" ", F.slice(toks, i + 1, k))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = stream.select(
        F.col(id_col).alias("doc"),
        F.posexplode(grams).alias("pos", "h"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("h", T.LongType()),
            T.StructField("n_occ", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("count", T.LongType())])

    @worker_task
    def fn(key, pdf_iter, state):
        (h,) = key
        if state.hasTimedOut:
            state.remove()
            return
        count = state.get[0] if state.exists else 0
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["doc", "pos"]
        )
        rows = []
        for doc, pos in zip(pdf["doc"], pdf["pos"]):
            count += 1
            if count >= 2:
                rows.append((int(doc), int(pos), int(h), int(count)))
        state.update((int(count),))
        state.setTimeoutDuration(state_ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=["doc", "pos", "h", "n_occ"])

    return exploded.groupBy(F.col("h")).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "ProcessingTimeTimeout"
    )


PHASH_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_dedup_stream(stream: DataFrame, ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming perceptual-hash image dedup (ST16): the ingest-side
    twin of the batch pHash family (Z64/q117) — a RE-ENCODED copy of
    an already-seen image (same pixels as PNG vs BMP vs netpbm, so an
    IDENTICAL 64-bit pHash by construction) is dropped before it ever
    lands in storage, exactly like ST5 drops exact text duplicates.

    The hash stage is the EXACT batch decode path (decode_luminance →
    _phash64 — one shared implementation, so stream and batch verdicts
    cannot drift), run as a stateless Arrow map that passes the event
    time through; then ``dropDuplicatesWithinWatermark`` keyed on the
    hash keeps the first arrival per pHash with watermark-bounded
    state (one long per distinct image inside the horizon). Corrupt
    payloads hash to NULL and are keyed by their own media_id instead
    — audit rows must never dedup against EACH OTHER. Emits
    ``(media_id, ts, phash)`` survivors.

    Near-dup (hamming > 0) streaming dedup is deliberately out of
    scope here: it needs the banded-candidate state machine (the ST7
    anchored-star pattern over 8-bit bands); exact-pHash already
    catches the dominant ingest duplicate class (re-encodes and
    re-uploads), and the batch pair join handles the rest offline.
    """
    import pandas as pd

    from ..functions.multimodal import _phash64, decode_luminance

    @worker_task
    def kernel(it):
        for pdf in it:
            hashes = []
            for payload in pdf["payload"]:
                try:
                    _w, _h, lum = decode_luminance(bytes(payload))
                    hashes.append(_phash64(lum))
                except Exception:
                    hashes.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(pdf["media_id"], dtype="int64"),
                    "ts": pdf[ts_col],
                    "phash": pd.array(hashes, dtype="Int64"),
                }
            )

    hashed = stream.select("media_id", ts_col, "payload").mapInPandas(
        kernel, PHASH_STREAM_SCHEMA
    )
    keyed = hashed.withColumn(
        "_k",
        F.coalesce(
            F.col("phash").cast("string"),
            F.concat(F.lit("corrupt_"), F.col("media_id").cast("string")),
        ),
    )
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_k"])
        .drop("_k")
    )


def incremental_near_dup_stream(stream: DataFrame, ref: DataFrame,
                                text_col: str, id_col: str,
                                ts_col: str = "ts",
                                shingle_n: int = 3, num_hashes: int = 32,
                                bands: int = 16, threshold: float = 0.5,
                                watermark: str = "1 hour",
                                max_df: int | None = 500) -> DataFrame:
    """Streaming incremental near-dup screening (ST17): the q121
    operator's ingest-side half — every arriving document is scored
    against the STATIC reference-corpus signatures as it lands (the
    ST8 stream-static pattern, with MinHash banding instead of a
    Bloom bitmap: bloom answers "seen EXACTLY?", this answers "seen
    something ≥ τ-similar?").

    The arriving side's portable signatures are pure JVM expressions
    (stateless map — the batch family's exact arithmetic, so stream
    and batch verdicts cannot drift); the reference side is banded
    ONCE and joined stream-static on the band key; pairs clearing the
    agreement threshold dedup per (batch doc, ref doc) inside the
    watermark horizon. Emits ``(id, ref_id, ts, est_jaccard)`` flagged
    pairs — the downstream quarantine queue.

    Shape at scale: reference signatures are precomputed corpus
    metadata (the q121 persistence contract); the stream join state is
    bounded by the watermark. ``max_df`` (default 500, the batch
    family's cap) drops reference band keys held by more than that
    many corpus documents — the stream side's frequencies can't be
    counted ahead of arrival, but capping the STATIC side alone
    bounds the fan-out of every arriving document at
    bands·max_df candidate rows, which is what matters: an arriving
    boilerplate doc can no longer join a million-row reference
    bucket. Computed once at plan time (static side), like the ST8
    Bloom build.
    """
    from ..functions import dedup as D
    from ..functions.dedup import (
        _drop_hot_bands,
        minhash_signatures_portable,
        portable_band_keys,
        sig_agreement,
    )

    keys = portable_band_keys("sig", num_hashes, bands)
    ref_banded = (
        minhash_signatures_portable(ref, text_col, id_col, shingle_n,
                                    num_hashes)
        .select(F.col("doc").alias("ref_id"), F.col("sig").alias("rsig"),
                F.explode(keys).alias("band"))
    )
    if max_df is not None:
        ref_banded = _drop_hot_bands(ref_banded, max_df)
    # streaming side: the SAME signature arithmetic, built as inline
    # expressions (shingle_rows' lead-window shape is batch-only; the
    # array-HOF form is value-identical — min over duplicate shingles
    # is dup-invariant, hash family identical)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    k = F.size(words) - (shingle_n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(words, (i + j + 1).cast("int"))
                  for j in range(shingle_n)],
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    fps = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    params = D.affine_params(num_hashes)
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    fps, lambda fp: (fp * F.lit(a) + F.lit(b))
                    % F.lit(D.PORTABLE_P)
                )
            )
            for a, b in params
        ]
    )
    arriving = stream.select(
        F.col(id_col), F.col(ts_col), sig.alias("sig")
    ).select(
        id_col, ts_col, "sig", F.explode(keys).alias("band")
    )
    flagged = (
        arriving.join(ref_banded, "band")
        .select(
            id_col, ts_col, "ref_id",
            sig_agreement(F.col("sig"), F.col("rsig"),
                          num_hashes).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )
    return (
        flagged.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([id_col, "ref_id"])
    )


def bm25_screen_stream(stream: DataFrame, text_col: str, id_col: str,
                       model: list, avgdl: float, ts_col: str = "ts",
                       min_score: float | None = None) -> DataFrame:
    """Streaming BM25 relevance screening (ST18): every ARRIVING
    document is scored against a frozen query-term model — the
    ingest-side half of q124, answering "which eval prompts does this
    new document answer?" as data lands (the lexical twin of ST11's
    embedding-space SemDeDup verdicts). High scorers go to the
    decontamination quarantine before they ever enter a training mix.

    ``model``/``avgdl`` come from :func:`functions.retrieval.
    bm25_model` over the indexed corpus + eval suite — bounded,
    frozen at plan time, riding as literals (the ST8 Bloom-build /
    ST12 classifier-weights pattern). Scoring is
    :func:`functions.retrieval.bm25_score_rows` — the SAME
    implementation the batch path uses (stream/batch verdicts cannot
    drift, the ST16 contract) and a PURE PROJECTION: per-row array
    HOFs, no explode-then-regroup, no shuffle, NO STATE AT ALL —
    append-safe with zero watermark bookkeeping, the cheapest
    possible streaming operator shape.

    Emits ``(id, ts, query_id, score, n_terms_hit)`` for every
    (arriving doc, query) pair sharing ≥ 1 term, optionally cut at
    ``min_score``.
    """
    from ..functions.retrieval import bm25_score_rows

    out = bm25_score_rows(stream, text_col, id_col, model, avgdl,
                          passthrough=(ts_col,))
    if min_score is not None:
        out = out.where(F.col("score") >= float(min_score))
    return out


def ewma_stream(stream: DataFrame, ts_col: str, key_col: str,
                value_col: str, alpha: float = 0.3,
                round_to: int = 4) -> DataFrame:
    """Streaming EWMA control chart (ST19): the live twin of
    ``operators.timeseries.ewma_smooth`` — per-series smoothed level,
    one-step-ahead forecast, and forecast residual as samples arrive,
    the "is the box drifting off its recent trend RIGHT NOW?" monitor
    (ST15 answers the seasonal version of that question).

    Where the batch operator uses the TRUNCATED weight ladder (a
    fixed-shape lag window — the distributable, oracle-portable
    form), the stream keeps the EXACT adjusted recursion, because
    here sequential state is free: ``applyInPandasWithState``
    carries ``(num, den)`` per series with

        ``num_t = x_t + (1−α)·num_{t−1}``,
        ``den_t = 1  + (1−α)·den_{t−1}``,
        ``ewma_t = num_t / den_t``  (pandas ewm(adjust=True) exactly),

    so state is two floats per series forever, continuous across
    micro-batch boundaries. The two forms agree EXACTLY for the first
    W samples of every series and within (1−α)^W (≈ 0.3 % of weight
    at the defaults) after — the pytest pins both facts. Raw values
    leave Python unrounded; rounding is JVM-side ``util.rnd`` (the
    ST4 contract).
    """
    from ..util import rnd

    out_schema = T.StructType([
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("raw_ewma", T.DoubleType()),
        T.StructField("raw_forecast", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("num", T.DoubleType()),
        T.StructField("den", T.DoubleType()),
    ])
    keep = 1.0 - alpha

    @worker_task
    def fn(key, pdf_iter, state):
        import pandas as pd

        (series,) = key
        num, den = state.get if state.exists else (None, None)
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        vals = pdf[value_col].astype("float64")
        ewmas, fores = [], []
        for x in vals:
            fores.append(num / den if den is not None else float("nan"))
            num = x + keep * num if num is not None else x
            den = 1.0 + keep * den if den is not None else 1.0
            ewmas.append(num / den)
        state.update((float(num), float(den)))
        yield pd.DataFrame(
            {
                "series": series,
                "ts": pdf[ts_col],
                "value": vals,
                "raw_ewma": ewmas,
                "raw_forecast": fores,
            }
        )

    out = stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
    return out.select(
        "series", "ts", "value",
        rnd(F.col("raw_ewma"), round_to).alias("ewma"),
        rnd(F.col("raw_forecast"), round_to).alias("forecast"),
        rnd(F.col("value") - F.col("raw_forecast"), round_to).alias("resid"),
    )


def snapshot_status_stream(stream: DataFrame, ref: DataFrame,
                           id_col: str, text_col: str) -> DataFrame:
    """Streaming change-data-capture classification (ST20): the live
    twin of ``functions.pipeline.snapshot_diff`` — every arriving
    document is classified against the STATIC previous-snapshot
    fingerprints as it lands: ``new`` (id never seen), ``changed``
    (id seen, content hash differs), ``unchanged`` (byte-identical
    re-crawl). The ingest router runs on this verdict: unchanged →
    drop (don't re-process), changed → re-pipeline, new → full
    pipeline.

    The ST8/ST12/ST17 stream-static shape: the reference side is
    projected ONCE to (id, md5) — fingerprint-sized corpus metadata,
    the q121 persistence contract — and LEFT-joined on the doc id;
    the arriving side's hash is a pure JVM map expression. No stream
    state at all (each arrival classifies independently), so no
    watermark bookkeeping and bounded memory by construction.
    ``removed`` is inherently a batch-side verdict (a stream can't
    observe an id that never arrives) — q135 owns it.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    ref_fp = ref.select(
        F.col(id_col).alias("_rid"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_rh"),
    )
    arriving = stream.withColumn("_h", F.md5(t))
    joined = arriving.join(
        ref_fp, arriving[id_col] == F.col("_rid"), "left"
    )
    status = (
        F.when(F.col("_rid").isNull(), F.lit("new"))
        .when(F.col("_h") != F.col("_rh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.withColumn("status", status).drop("_rid", "_rh", "_h")


def cms_stream(stream: DataFrame, key_col: str, width: int = 16,
               depth: int = 4) -> DataFrame:
    """Streaming count-min sketch maintenance (ST21): the live twin of
    ``operators.sketches.cms_build`` — the d×w counter matrix stays
    continuously current as keys arrive, queryable at any instant for
    "how often has this token/URL occurred so far" without a batch
    recount.

    THE textbook case for an unwatermarked streaming aggregation: the
    running-agg state is the sketch itself — ``depth·width`` cells by
    construction, corpus-rate independent — so state never needs
    expiry to stay bounded (contrast ST5's digest set, which grows
    with distinct arrivals and needs its watermark). Each arrival
    explodes to its ``depth`` (j, bucket) cells (the portable bloom
    md5 family — ``cms_build``'s exact hash, so stream and batch
    counters are value-identical) and one groupBy sums them;
    complete/update output modes both serve it.
    """
    from ..operators.sketches import _bloom_positions

    pos = stream.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).cast("long").alias("j"), h.alias("b")
                )
                for j, h in enumerate(
                    _bloom_positions(key_col, width, depth)
                )
            ])
        ).alias("_p")
    ).select(F.col("_p.j").alias("j"), F.col("_p.b").alias("b"))
    return pos.groupBy("j", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def threshold_run_stream(stream: DataFrame, ts_col: str, key_col: str,
                         value_col: str, threshold: float,
                         min_run: int = 3) -> DataFrame:
    """Streaming sustained-saturation detection (ST22): the live twin
    of ``operators.timeseries.threshold_runs`` — a completed run of ≥
    ``min_run`` consecutive over-threshold samples is emitted the
    moment its first cool sample arrives, instead of waiting for the
    batch sweep ("the disk has been pegged for the last 40 minutes —
    page someone NOW").

    ``applyInPandasWithState`` carries four scalars per series
    (run start, length, peak, open/closed) forever; a run spanning
    any number of micro-batches closes correctly because the state
    rides across them (the ST4/ST19 in-order-arrival contract: one
    series' samples arrive time-ordered, which the per-batch sort
    plus ordered sources guarantee). Still-open runs stay in state —
    only COMPLETED runs are emitted, matching the batch operator's
    semantics for every closed run (pytest pins the parity).
    """
    out_schema = T.StructType([
        T.StructField("series", T.StringType()),
        T.StructField("start_ts", T.TimestampType()),
        T.StructField("end_ts", T.TimestampType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("peak", T.DoubleType()),
    ])

    @worker_task
    def fn(key, pdf_iter, state):
        import pandas as pd

        (series,) = key
        start_us, end_us, n, peak = (
            state.get if state.exists else (None, None, 0, None)
        )
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        done = []
        for ts_v, v in zip(pdf[ts_col], pdf[value_col]):
            if v > threshold:
                us = int(pd.Timestamp(ts_v).value // 1000)
                if n == 0:
                    start_us, n, peak = us, 1, float(v)
                else:
                    n += 1
                    peak = max(peak, float(v))
                end_us = us
            else:
                if n >= min_run:
                    done.append((start_us, end_us, n, peak))
                start_us, end_us, n, peak = None, None, 0, None
        if n > 0:
            state.update((start_us, end_us, int(n), float(peak)))
        else:
            state.update((None, None, 0, None))
        if done:
            yield pd.DataFrame(
                {
                    "series": series,
                    "start_ts": pd.to_datetime(
                        [d[0] for d in done], unit="us"
                    ),
                    "end_ts": pd.to_datetime(
                        [d[1] for d in done], unit="us"
                    ),
                    "n_samples": [d[2] for d in done],
                    "peak_value": [d[3] for d in done],
                }
            )

    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def cusum_stream(stream: DataFrame, ts_col: str, key_col: str,
                 value_col: str, stats: DataFrame,
                 slack_sigmas: float = 0.5, h_sigmas: float = 4.0,
                 round_to: int = 4) -> DataFrame:
    """Streaming one-sided CUSUM drift alarms (ST23): the live twin of
    q145's batch ``cusum_alarms`` — the small persistent mean shift no
    per-sample threshold sees, caught the moment the cumulative excess
    crosses h·σ instead of at the next batch run.

    ``stats`` is the FROZEN per-series baseline ``(series, mu, sd)``
    (the batch operator's stats agg, or any commissioning-period
    model) joined stream-static onto arriving samples — a stream
    can't see corpus-global statistics, so the baseline is a model
    input by construction, exactly like ST15's seasonal profile and
    ST12's classifier weights.

    State per series is ONE float: the textbook recursion
    ``S_t = max(0, S_{t−1} + (x_t − μ − kσ))`` (Page 1954), continuous
    across micro-batch boundaries — mathematically identical to the
    batch prefix form (running sum − running min). The batch twin
    rounds per step on the oracle ladder while the stream carries the
    raw recursion (rounding only JVM-side on emit, the ST4 contract),
    so the pytest pins alarm-set equality and value agreement to the
    ladder's tolerance, like ST19's EWMA contract.

    Only alarm rows (cusum > h·σ) are emitted — alert traffic, not a
    full-corpus echo.
    """
    from ..util import rnd

    out_schema = T.StructType([
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("raw_cusum", T.DoubleType()),
        T.StructField("sd", T.DoubleType()),
    ])
    state_schema = T.StructType([T.StructField("s", T.DoubleType())])
    slack = float(slack_sigmas)

    enriched = stream.join(
        F.broadcast(stats.select(
            F.col("series").alias("_skey"), F.col("mu").cast("double"),
            F.col("sd").cast("double"),
        )),
        F.col(key_col) == F.col("_skey"),
    ).select(
        F.col(key_col).alias("series"), F.col(ts_col).alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
        "mu", "sd",
    )

    @worker_task
    def fn(key, pdf_iter, state):
        import pandas as pd

        (series,) = key
        (s,) = state.get if state.exists else (0.0,)
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("_ts")
        out_ts, out_v, out_c, out_sd = [], [], [], []
        for _, row in pdf.iterrows():
            dev = row["_v"] - row["mu"] - slack * row["sd"]
            s = max(0.0, s + dev)
            if s > float(h_sigmas) * row["sd"]:
                out_ts.append(row["_ts"])
                out_v.append(row["_v"])
                out_c.append(s)
                out_sd.append(row["sd"])
        state.update((float(s),))
        if out_ts:
            yield pd.DataFrame(
                {
                    "series": series,
                    "ts": out_ts,
                    "value": out_v,
                    "raw_cusum": out_c,
                    "sd": out_sd,
                }
            )

    out = enriched.groupBy(F.col("series")).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
    return out.select(
        "series", "ts", "value",
        rnd(F.col("raw_cusum"), round_to).alias("cusum"),
    )


def trend_stream(stream: DataFrame, ts_col: str, key_col: str,
                 value_col: str, round_to: int = 6) -> DataFrame:
    """Streaming incremental OLS trend (ST24): the live twin of
    ``operators.timeseries.trend_fit`` — per-series slope (units per
    DAY) continuously current as samples arrive, so "which disk is
    trending toward full" never waits for the next batch run.

    State per series is SIX floats: the series' first-seen timestamp
    (the centering origin — raw epoch seconds squared would burn
    double precision at ~3e18; days-since-first keeps x² tiny, the
    batch operator's same trick via its window MIN) plus the running
    (n, Σx, Σy, Σxy, Σx²). Each arrival updates the sums and emits
    the current slope estimate — an O(1) update, continuous across
    micro-batch boundaries. Slope agrees with the batch fit on any
    prefix up to the batch ladder's rounding (the ST19/ST23
    tolerance contract, pytest-pinned); series still at n < 2 emit
    NULL slope rather than a fabricated 0.
    """
    from ..util import rnd

    out_schema = T.StructType([
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("raw_slope", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("x0", T.DoubleType()),
        T.StructField("n", T.DoubleType()),
        T.StructField("sx", T.DoubleType()),
        T.StructField("sy", T.DoubleType()),
        T.StructField("sxy", T.DoubleType()),
        T.StructField("sxx", T.DoubleType()),
    ])

    @worker_task
    def fn(key, pdf_iter, state):
        import pandas as pd

        (series,) = key
        x0, n, sx, sy, sxy, sxx = (
            state.get if state.exists else (None, 0.0, 0.0, 0.0, 0.0, 0.0)
        )
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        out = []
        for _, row in pdf.iterrows():
            t = row[ts_col].timestamp()
            if x0 is None:
                x0 = t
            x = (t - x0) / 86400.0
            y = float(row[value_col])
            n += 1.0
            sx += x
            sy += y
            sxy += x * y
            sxx += x * x
            varx = sxx / n - (sx / n) ** 2
            slope = (
                (sxy / n - (sx / n) * (sy / n)) / varx
                if n >= 2 and varx > 0 else None
            )
            out.append((row[ts_col], y, int(n), slope))
        state.update((float(x0), float(n), float(sx), float(sy),
                      float(sxy), float(sxx)))
        yield pd.DataFrame(
            {
                "series": series,
                "ts": [r[0] for r in out],
                "value": [r[1] for r in out],
                "n_samples": [r[2] for r in out],
                "raw_slope": [r[3] for r in out],
            }
        )

    out = stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
    return out.select(
        "series", "ts", "value", "n_samples",
        rnd(F.col("raw_slope"), round_to).alias("slope_per_day"),
    )


def moore_lewis_screen_stream(stream: DataFrame, text_col: str,
                              id_col: str, model, unk_lpi: float,
                              unk_lpg: float, ts_col: str = "ts",
                              min_ce: float | None = None) -> DataFrame:
    """Streaming Moore-Lewis domain screening (ST25): every ARRIVING
    document scored by cross-entropy difference against the frozen
    in-domain / general unigram LM pair — the ingest-side half of
    q170, answering "does this new document read like the target
    domain?" as data lands (the contrastive sibling of ST6's quality
    gate and ST18's relevance screen).

    ``model`` comes from :func:`functions.text.moore_lewis_model`
    over the static corpus — at most 2·V rows + two unk scalars,
    frozen at plan time as map literals (the ST8/ST12/ST18 bounded-
    model pattern). Scoring is :func:`functions.text.
    moore_lewis_score_rows` — the SAME row-local arithmetic on batch
    and stream (verdicts cannot drift) and a PURE PROJECTION: per-row
    array HOFs, no explode, no shuffle, NO STATE — append-safe with
    zero watermark bookkeeping.

    Emits the q170 contract (n_tokens / avg_lp_in / avg_lp_gen /
    ce_diff / selected) plus the arrival timestamp; ``min_ce`` cuts
    to "in-domain enough" rows at the source."""
    from ..functions.text import moore_lewis_score_rows

    out = moore_lewis_score_rows(stream, text_col, id_col, model,
                                 unk_lpi, unk_lpg,
                                 passthrough=(ts_col,))
    if min_ce is not None:
        out = out.where(F.col("ce_diff") >= float(min_ce))
    return out


def split_leak_stream(stream: DataFrame, static_docs: DataFrame,
                      text_col: str, id_col: str,
                      weights: dict[str, int],
                      ts_col: str = "ts") -> DataFrame:
    """Streaming cross-split leakage sentinel (ST26): every ARRIVING
    document is assigned its deterministic hash split, content-
    fingerprinted, and probed against the OTHER splits of the static
    corpus — the live twin of q175's batch audit, catching "this new
    crawl doc is byte-identical to something already in the test
    split" at ingest, before the contamination lands (the ST20 CDC
    shape pointed at the split seam).

    The static side reduces to (fingerprint, split, n) — one row per
    distinct content per split, corpus-METADATA sized, with splits
    assigned by the same :func:`functions.text.hash_split` the batch
    audit uses (verdicts cannot drift). The probe is a stream-static
    equi-join on the md5 key; ``split != matched_split`` keeps only
    cross-split hits. NO stream state, no watermark — pure
    per-arrival classification; same-split duplicates are ST5's job.

    Emits ``(id, ts, split, matched_split, n_matches)`` per arriving
    doc × contaminated split."""
    from ..functions.text import hash_split

    ref = (
        hash_split(static_docs.select(id_col, text_col), id_col,
                   dict(weights))
        .groupBy(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp"),
            F.col("split").alias("matched_split"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )
    arriving = hash_split(
        stream.select(id_col, text_col, ts_col), id_col, dict(weights)
    ).withColumn(
        "fp", F.md5(F.coalesce(F.col(text_col), F.lit("")))
    )
    return (
        arriving.join(ref, "fp")
        .where(F.col("split") != F.col("matched_split"))
        .select(id_col, ts_col, "split", "matched_split", "n_matches")
    )


def incident_tag_stream(stream: DataFrame, intervals: DataFrame,
                        ts_col: str = "ts",
                        start_col: str = "burst_start",
                        end_col: str = "burst_end",
                        bucket_seconds: int = 3600) -> DataFrame:
    """Streaming incident tagger (ST27): every ARRIVING event is
    matched against the static incident/burst windows — the live twin
    of q183's batch overlap ("this purchase is landing DURING the
    ongoing incident", tagged at ingest rather than in the nightly
    report). The static side is the (model-sized) burst-interval
    frame from :func:`operators.timeseries.burst_intervals`, exploded
    once into its covered hour buckets; the stream side computes its
    single bucket per row — so the match is a stream-static EQUI-join
    on the bucket + the exact BETWEEN refinement, the SAME
    bucketed-range-join rewrite the batch operator uses (verdicts
    cannot drift, and Structured Streaming would reject the naive
    non-equi stream-static join's plan cost anyway). NO stream state,
    no watermark — pure per-arrival classification (the ST20 shape).

    Emits the arriving row's columns + the matched interval's
    columns; rows outside every window are dropped (inner join) —
    compose with a left-anti downstream for "clean" rows if needed.
    """
    from ..operators.timeseries import interval_join

    return interval_join(stream, intervals, ts_col, start_col,
                         end_col, bucket_seconds=bucket_seconds)


def ql_screen_stream(stream: DataFrame, text_col: str, id_col: str,
                     terms: list, qstats: dict, ctot: float,
                     ts_col: str = "ts",
                     min_score: float | None = None) -> DataFrame:
    """Streaming Dirichlet-QL relevance screening (ST28): every
    ARRIVING document scored by log p(query | doc's smoothed LM)
    against the frozen eval-suite model — the LM-ranker twin of
    ST18's BM25 screen, closing the family (exact q177 / champion
    q188 / ingest ST28, mirroring q124 / q131 / ST18). Model from
    :func:`functions.retrieval.ql_model` (bounded, plan literals);
    scoring is :func:`functions.retrieval.ql_score_rows` — the SAME
    row-local arithmetic a batch frame gets (verdicts cannot drift)
    and a PURE PROJECTION: array HOFs, no explode of tokens, no
    shuffle, NO STATE — append-safe, zero watermark bookkeeping."""
    from ..functions.retrieval import ql_score_rows

    out = ql_score_rows(stream, text_col, id_col, terms, qstats,
                        ctot, passthrough=(ts_col,))
    if min_score is not None:
        out = out.where(F.col("score") >= float(min_score))
    return out


def mg_update(state: DataFrame | None, batch: DataFrame, col: str,
              k: int = 20, shards: int = 8) -> DataFrame:
    """Incremental Misra-Gries / SpaceSaving maintenance (ST29): the
    streaming twin of ``operators.sketches.mg_topk`` — fold each
    micro-batch into a bounded ≤ shards·k summary via the MERGE
    theorem of Agarwal et al. 2012 (add counters item-wise, compress
    by subtracting the (k+1)-th largest, keep strictly positive):
    the foreachBatch maintenance loop that keeps "what are the top-K
    tokens/URLs so far" continuously current while CMS (ST21) keeps
    "how often is X". State is (item, shard, est) — ≤ shards·k rows
    by construction, corpus-rate independent (the ST21 bounded-state
    contract), and the merge is associative, so any micro-batch
    slicing of the same stream lands within the same N/(k+1)-family
    error envelope (pytest pins est ≤ true and the two-level
    2N/(k+1) bound against the batch operator's exact counts).

    Per batch: ONE combinable item-count agg over the batch, a union
    with the k-bounded state, and vocabulary-bounded per-shard rank
    windows — no corpus-sized state, no shuffle beyond the count agg.
    """
    from ..functions.dedup import fp32_expr
    from ..util import shard_hash
    from pyspark.sql import Window

    bc = (
        batch.select(F.col(col).cast("string").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("est"))
        .withColumn("shard", shard_hash(fp32_expr(F.col("item")), shards))
        .select("item", "shard", "est")
    )
    if state is not None:
        bc = (
            bc.unionByName(state.select("item", "shard", "est"))
            .groupBy("item", "shard")
            .agg(F.sum("est").cast("long").alias("est"))
        )
    ws = Window.partitionBy("shard").orderBy(
        F.col("est").desc(), F.col("item").asc()
    )
    ranked = bc.withColumn("rn", F.row_number().over(ws))
    dels = ranked.groupBy("shard").agg(
        F.coalesce(F.max(F.when(F.col("rn") == k + 1, F.col("est"))),
                   F.lit(0)).alias("_d")
    )
    return (
        ranked.join(F.broadcast(dels), "shard")
        .where(F.col("est") > F.col("_d"))
        .select("item", "shard",
                (F.col("est") - F.col("_d")).cast("long").alias("est"))
    )


def url_screen_stream(stream: DataFrame, url_col: str,
                      blocked_domains: tuple[str, ...] = (),
                      robots_hex: tuple[str, ...] = ()) -> DataFrame:
    """Streaming URL canonicalization + domain gate (ST30): the live
    form of q190/q191's first-stage crawl curation — every arriving
    record gains its canonical URL, host, registrable domain, and a
    blocklist verdict with no state and no watermark: the
    canonicalizer is a pure projection (functions/web.py is regexp +
    array HOFs only) and the PSL registrable-domain derivation is a
    stream-static BroadcastHashJoin against the rule-count-sized PSL
    flag dims (r12 — the same
    ``web.attach_registrable_domain`` the batch queries use, so the
    two paths cannot drift), so it runs identically on a batch frame
    and a readStream frame and composes in front of ST5's
    exact-dedup (on canon_url) exactly like the batch pipeline. The
    blocklist rides as a codegen IN literal — model-sized by the
    q191 contract (a million-domain list would broadcast-join
    instead, same plan shape)."""
    from ..functions import web as W

    host = W.url_host(F.col(url_col))
    bare = F.regexp_replace(host, r":[0-9]+$", "")
    enr = W.attach_registrable_domain(
        stream.select(
            "*",
            W.canonical_url(F.col(url_col)).alias("canon_url"),
            host.alias("host"),
        ),
        bare,
    )
    dom = F.col("domain")
    blocked = (
        dom.isin(*[F.lit(d) for d in blocked_domains])
        if blocked_domains else F.lit(False)
    )
    if robots_hex:
        blocked = blocked | F.substring(F.md5(dom), 1, 1).isin(*robots_hex)
    return enr.select(
        "*",
        F.when(blocked, F.lit("drop")).otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def crawl_screen_stream(stream: DataFrame, url_col: str, text_col: str,
                        ts_col: str, watermark: str,
                        blocked_domains: tuple[str, ...] = (),
                        robots_hex: tuple[str, ...] = (),
                        min_tokens: int = 20, max_tokens: int = 2000,
                        min_distinct_ratio: float = 0.2,
                        html_col: str | None = None) -> DataFrame:
    """Streaming head of the q201 URL-first crawl funnel (ST32): the
    stages that are stateless or watermark-boundable, composed in ONE
    readStream pipeline —

      1. ST30's URL screen: canonical URL, registrable domain, and
         the q205 policy verdict (blocklist + robots slice) as a pure
         projection;
      2. canonical-URL exact dedup with bounded state
         (``dropDuplicatesWithinWatermark`` on ``canon_url`` — the
         ST5 contract keyed on the URL instead of the text digest:
         batch keeps smallest doc_id, streaming keeps first arrival,
         the surviving CANONICAL-URL SET is identical);
      5. q201's quality gate (token count + distinct-token ratio on
         the rnd ladder).

    Stages 3–4 (cross-doc text dedup, passage audit) need corpus
    state beyond a watermark horizon and stay batch-side. Policy and
    quality land as FLAG columns (flag, not filter — the q191 audit
    convention), so a ``foreachBatch`` counter sink can aggregate
    per-stage survivorship per micro-batch while the append stream
    carries the survivors; batch parity pinned in
    tests/test_streaming.py::test_crawl_screen_stream (ST32)."""
    from ..util import rnd

    if html_col is not None:
        # stage 0 on the stream: the q203 extractor is a pure
        # projection (functions/html.py — regexp + array HOFs), so
        # the pipeline can start at MARKUP like the batch funnel;
        # text_col is derived from the kept content blocks
        from ..functions import html as HT

        blk = HT.html_block_structs(F.col(html_col))
        kept = F.filter(blk, lambda s: ~HT.is_boiler(s))
        stream = stream.withColumn(
            text_col,
            F.array_join(F.transform(kept, lambda s: s["t"]), "\n"),
        )
    scr = url_screen_stream(stream, url_col, blocked_domains,
                            robots_hex=robots_hex)
    dedup = (
        scr.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["canon_url"])
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n_tok = F.size(toks)
    dr = rnd(F.size(F.array_distinct(toks)) / n_tok.cast("double"), 6)
    return dedup.select(
        "*",
        (F.col("verdict") == "keep").alias("policy_ok"),
        (
            (n_tok >= int(min_tokens)) & (n_tok <= int(max_tokens))
            & (dr >= float(min_distinct_ratio))
        ).alias("quality_ok"),
    )


def rank_sample_update(state: DataFrame | None, batch: DataFrame,
                       value_col: str, id_col: str,
                       m: int = 64) -> DataFrame:
    """Incremental rank-sample quantile-summary maintenance (ST31):
    the streaming twin of ``operators.sketches.rank_sample_quantiles``
    — fold each micro-batch into a bounded (value, id, g) summary
    whose gap cumsum under-estimates every true rank by a bounded
    amount, the GK/mergeable-summaries contract (Greenwald & Khanna
    2001; Agarwal et al. 2012 §3 merge):

      1. BATCH: sort the micro-batch, keep every ``step``-th element
         (step = ceil(n/m)) with its exact rank gap — the batch
         operator's per-shard summary, verbatim.
      2. MERGE: union with the state; gaps stay valid because each
         element's g counts items of its OWN source segment only.
      3. COMPRESS: while the merged summary exceeds 2·m rows, keep
         every 2nd element in value order and fold each dropped g
         into the NEXT kept element — ranks stay UNDER-estimates
         (mass only moves later), state stays ≤ 2·m rows forever.

    Each fold costs one micro-batch sort window + a ≤ (2m + m)-row
    compress — state is corpus-rate independent (the ST21/ST29
    bounded-state contract). The pytest pins: est_rank ≤ true rank
    for every kept element, the p50/p90 answers within the summed
    step bound of exact, and heavy skew safety (all-equal values).
    """
    from pyspark.sql import Window

    bc = batch.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(id_col).cast("long").alias("i"),
    ).where(F.col("v").isNotNull())
    w = Window.orderBy(F.col("v").asc(), F.col("i").asc())
    r = bc.withColumn("rn", F.row_number().over(w))
    n_b = r.agg(F.max("rn")).collect()[0][0] or 0
    if n_b:
        step = -(-n_b // m)
        kept = r.where(
            ((F.col("rn") - 1) % step == 0) | (F.col("rn") == n_b))
        wk = Window.orderBy("rn")
        kept = kept.select(
            "v", "i",
            (F.col("rn")
             - F.coalesce(F.lag("rn").over(wk), F.lit(0))).alias("g"),
        )
        merged = (kept if state is None
                  else state.select("v", "i", "g").unionByName(kept))
    elif state is None:
        return batch.sparkSession.createDataFrame(
            [], "v double, i long, g long")
    else:
        merged = state.select("v", "i", "g")
    # compress: halve in value order until ≤ 2m rows, folding each
    # dropped gap into the NEXT kept element (rank stays a lower
    # bound). The summary is model-sized; the loop runs on ≤ 3m rows.
    rows = sorted(merged.collect(), key=lambda x: (x.v, x.i))
    total = len(rows)
    vals = [(float(x.v), int(x.i), int(x.g)) for x in rows]
    while len(vals) > 2 * m:
        out, carry = [], 0
        for j, (v, i, g) in enumerate(vals):
            if j % 2 == 0 and j != len(vals) - 1:
                carry += g          # dropped: mass moves to the next
            else:
                out.append((v, i, g + carry))
                carry = 0
        vals = out
    assert sum(g for _, _, g in vals) == sum(g for _, _, g in
                                             [(x.v, x.i, x.g)
                                              for x in rows]), total
    return batch.sparkSession.createDataFrame(
        vals, "v double, i long, g long")


def hot_block_update(state: DataFrame | None, batch: DataFrame,
                     html_col: str, id_col: str,
                     k: int = 32, shards: int = 8) -> DataFrame:
    """Streaming hot-block boilerplate discovery (ST33): the live
    twin of q207's frequency rule. The batch operator flags a block
    whose corpus-global document frequency exceeds ``BP_DF_RATIO`` of
    pages — a count a stream can never hold exactly without
    corpus-sized state. This maintenance op composes the extraction
    block splitter (functions/html.py:html_block_structs — the same
    projection ST32 runs) with the Misra-Gries summary fold (ST29's
    ``mg_update``): per micro-batch, one block-split projection, one
    per-doc DISTINCT on (doc, block-md5) so repeats inside a page
    count once (q207's countDistinct semantics), then the bounded
    ≤ shards·k MERGE. State is corpus-rate independent by the ST21
    contract; est ≤ true document frequency (MG underestimates), so
    flagging has NO false positives, and every block with true df
    above ratio·N + N/(k+1) is guaranteed retained and flagged — at
    the default k=32 that margin is ~3% of pages, far under the
    ~15-point headroom of real template chrome (nav ~100%, promo
    ~33%, the link-free rating DIV ~20% vs the 15% rule).
    Batch parity + the bounded-state invariant are pinned in
    tests/test_wave19.py."""
    from ..functions import html as Hh

    rows = (
        batch.select(
            F.col(id_col).alias("_doc"),
            F.explode(Hh.html_block_structs(F.col(html_col))).alias("b"),
        )
        .select("_doc", F.md5(F.col("b.t")).alias("h"))
        .distinct()
    )
    return mg_update(state, rows, "h", k=k, shards=shards)


def hot_block_flags(state: DataFrame, n_pages: int,
                    ratio: float = 0.15) -> DataFrame:
    """The flag read over an ST33 summary: block hashes whose
    document-frequency ESTIMATE exceeds ratio × pages-seen. Because
    the Misra-Gries estimate never exceeds the true count, every
    returned hash is truly above the ratio (no false positives); the
    caller tracks n_pages (one long per stream — foreachBatch
    increments it)."""
    return (
        state.where(
            F.col("est").cast("double") > float(ratio) * int(n_pages))
        .select(F.col("item").alias("h"), "est")
    )
