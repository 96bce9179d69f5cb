"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard. These are the scale-critical pieces of a training-data
pipeline: every one is built so the expensive comparison only happens
inside small candidate buckets, never across the full corpus.

Everything here stays JVM-side (xxhash64 / md5 / explode+aggregate
shapes) — no Python UDFs anywhere in the dedup path, so the whole
module runs under whole-stage codegen.

Operators that cache an internal frame for a self-join attach it to
the returned DataFrame as ``_cached_inputs``; call :func:`release`
after the consuming action to unpersist (``bench.py`` and long-lived
sessions should do this — otherwise executor storage accumulates
across repeated calls).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import fan_out, memo_cols, rnd


def release(df: DataFrame) -> None:
    """Unpersist the internal cached frames backing ``df`` (attached by
    operators as ``_cached_inputs``). Call after the consuming action;
    no-op for frames without cached inputs."""
    for dep in getattr(df, "_cached_inputs", ()):  # noqa: B004 — duck attr
        dep.unpersist()


# shared with the text/feature ops — see util.fan_out
_fan_out = fan_out


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate removal via content-hash groupBy: keep the row
    with the smallest id per md5(text). One shuffle on the 128-bit
    hash — uniformly distributed, no skew at any corpus size."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int = 3,
                 distinct: bool = True,
                 short_fallback: bool = True) -> DataFrame:
    """Word n-gram shingles as a long (doc, shingle) frame.

    Map-side n-gram build (r12): the token array zips against its own
    shifted tails (``zip_with``), so n-grams form in the projection —
    no posexplode → ``lead`` window, which shuffled and sorted EVERY
    token by doc id just to pair neighbors (one Exchange+Sort per
    pipeline, the single most repeated shuffle in the engine; the
    interpreted-HOF cost that once argued for the window came from
    per-element ``element_at`` indexing, which zip_with avoids —
    re-measured FASTER at 10k docs with an identical gram multiset).
    Documents shorter than ``n`` words fall back to one whole-text
    shingle so they still participate in dedup; pass
    ``short_fallback=False`` for consumers that must only ever see TRUE
    n-grams (the top-n-grams report).
    ``distinct=False`` skips the set-semantics shuffle — safe for
    MinHash, where duplicate shingles cannot change a minimum.
    """
    arr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    g = arr
    for j in range(1, n):
        tail = F.slice(arr, j + 1, F.greatest(F.size(arr) - j, F.lit(0)))
        g = F.zip_with(g, tail, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = _fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(g, lambda x: x.isNotNull())
        ).alias("shingle"),
    )
    if short_fallback:
        short = df.select(
            F.col(id_col).alias("doc"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
        ).where(F.size("_w") < n).select(
            "doc", F.concat_ws(" ", "_w").alias("shingle")
        )
        grams = grams.unionByName(short)
    return grams.distinct() if distinct else grams


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       shingles: DataFrame | None = None) -> DataFrame:
    """MinHash signatures of word 3-grams as (doc, sig array<bigint>).

    Shape matters for scale: shingles are EXPLODED first, then each of
    the 64 seeds becomes one ``min(xxhash64(shingle, i))``
    aggregate. The explode materializes the shingle once (computing the
    64 mins over an array column instead would re-inline — and
    re-evaluate — the whole shingle expression per hash), and the
    groupBy gets map-side partial mins, so the shuffle carries only
    64 longs per document regardless of document size.

    Pass ``shingles`` (a (doc, shingle) frame from
    :func:`shingle_rows`) to reuse an explode the caller already pays
    for — the explode is the dominant stage, so compositions like
    :func:`lsh_jaccard_pairs` halve their scan work by sharing it.
    """
    exploded = (
        shingles
        if shingles is not None
        else shingle_rows(df, text_col, id_col, distinct=False)
    )
    # Collapse the shingle to a 64-bit fingerprint ONCE, then seed the
    # 64-hash family over the fixed-width long: re-hashing the
    # ~25-byte string per seed costs ~1.5x the whole aggregation
    # (measured 2.6 s -> 1.7 s at sf0.1). Hash-of-hash with distinct
    # seeds is still a uniform family over shingles.
    exploded = exploded.select("doc", F.xxhash64("shingle").alias("_fp"))
    mins = exploded.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.col("_fp"), F.lit(i))).alias(f"h{i}")
            for i in range(64)
        ]
    )
    return mins.select(
        "doc", F.array(*[F.col(f"h{i}") for i in range(64)]).alias("sig")
    )


def minhash_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: hash each contiguous signature slice. Documents
    sharing any band key become candidate pairs."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                F.concat_ws(
                    "_", *[F.element_at(signature, b * rows_per_band + r + 1).cast("string")
                           for r in range(rows_per_band)]
                ),
            )
            for b in range(bands)
        ]
    )


def _drop_hot_bands(banded: DataFrame, max_df: int) -> DataFrame:
    """The q67/Z72 hot-bucket cap for MinHash band joins: a band key
    held by f documents generates O(f²) candidate rows in a self-join
    (or f_a·f_b in a cross join), so 10⁵ near-identical TEMPLATED
    documents sharing all band keys — exact dedup removes identical
    copies, not templated ones — turn one bucket into ~5·10⁹ pairs at
    100 TB. Band keys with document frequency > ``max_df`` are dropped
    from candidate generation via a bounded broadcast drop list. Pick
    the cap inert at the oracle scale and protective beyond it (the
    q117 convention — measured max band df is 24 at sf0.1 vs the 500
    default at the query layer); pairs retaining ≥ 1 uncapped band are
    still found."""
    hot = (
        banded.groupBy("band")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") > max_df)
        .select("band")
    )
    return banded.join(F.broadcast(hot), "band", "left_anti")


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      bands: int = 16,
                      shingles: DataFrame | None = None,
                      max_df: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding of word
    3-gram signatures with the estimated Jaccard from signature
    agreement.

    Plan shape: signature scan (narrow) → explode band keys → shuffle
    on band key (uniform hash) → per-bucket self-join. The quadratic
    blow-up is confined to same-band buckets, which is what makes this
    the 100 TB path; the exact-Jaccard verifier (ngram_jaccard_pairs)
    is for re-ranking candidates only. ``max_df`` bounds the bucket
    size itself (see :func:`_drop_hot_bands`) — without it a templated
    corpus where every doc shares all band keys is quadratic.
    """
    rows = 64 // bands
    sig = minhash_signatures(df, text_col, id_col, shingles=shingles)
    banded = sig.select(
        "doc", "sig", F.explode(minhash_bands(F.col("sig"), bands, rows)).alias("band")
    )
    if max_df is not None:
        banded = _drop_hot_bands(banded, max_df)
    # Signatures are tiny (64 longs/doc) next to the corpus; cache them
    # so the self-join below doesn't re-run the shingle+hash pipeline
    # once per side.
    banded = banded.cache()
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on="band")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(
                F.aggregate(
                    F.zip_with(F.col("a.sig"), F.col("b.sig"),
                               lambda x, y: F.when(x == y, 1).otherwise(0)),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double") / F.lit(64.0),
                4,
            ).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs._cached_inputs = [banded]  # see release()
    return pairs


# --------------------------------------------------------------------
# Engine-portable MinHash / SimHash (the md5 + affine family)
# --------------------------------------------------------------------
# The production signatures above use xxhash64 — fastest JVM-side, but
# not reproducible in any other engine. These variants swap ONLY the
# hash family: a 32-bit md5-derived fingerprint (the winnowing/q106
# convention, `conv(substr(md5(x),1,8),16,10)`) mixed by a fixed
# affine (universal) family h_i(x) = (a_i·x + b_i) mod P over the
# Mersenne prime P = 2^31−1 — every step is exact BIGINT arithmetic
# that DuckDB replays verbatim, so the full pipeline (signatures,
# band keys, candidate pairs, estimated jaccard) is VALUE-hash
# oracle-able, not just rows-only. a_i < 10^9 and x < 2^32 keep
# a_i·x + b_i < 4.4e18, well inside signed-64 range in both engines.

PORTABLE_P = 2_147_483_647  # 2^31 − 1


def affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients for the portable MinHash
    family — a fixed-seed 63-bit LCG (no RNG import, no global state)
    so the Spark expressions and the generated oracle SQL can never
    disagree about the constants."""
    out = []
    state = 0x5DEECE66D
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = 1 + state % 999_999_937
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % PORTABLE_P
        out.append((a, b))
    return out


def fp32_expr(col: Column) -> Column:
    """32-bit md5-derived fingerprint of a string column — the
    engine-portable hash primitive (same scheme as gram_hash_expr;
    DuckDB: ``('0x' || substr(md5(x), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_signatures_portable(df: DataFrame, text_col: str, id_col: str,
                                num_hashes: int = 32) -> DataFrame:
    """Portable-family twin of :func:`minhash_signatures`: identical
    explode→min-aggregate shape (map-side partial mins, the shuffle
    carries ``num_hashes`` longs per doc), but hashes every shingle
    with the md5+affine family so the signature VALUES replay in SQL.
    One md5 per shingle row + ``num_hashes`` multiplies — comparable
    cost to the xxhash64 family's hash-of-hash chain."""
    exploded = shingle_rows(df, text_col, id_col, distinct=False)
    exploded = exploded.select("doc", fp32_expr(F.col("shingle")).alias("_fp"))
    params = affine_params(num_hashes)
    mins = exploded.groupBy("doc").agg(
        *[
            F.min((F.col("_fp") * F.lit(a) + F.lit(b)) % F.lit(PORTABLE_P))
            .alias(f"h{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        "doc", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


# LSH bands of the portable pair functions: 32-hash signatures make
# 16 bands of 2 rows; ``num_hashes`` must be a multiple of it
MINHASH_PORT_BANDS = 16


def portable_band_keys(sig_col: str, num_hashes: int, bands: int) -> Column:
    """LSH band keys for the portable family: the PLAIN string of each
    contiguous signature slice prefixed by the band index — no hash,
    so the key replays verbatim in SQL ('b_h1_h2...')."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "_", F.lit(str(b)),
                *[F.element_at(sig_col, b * rows + r + 1).cast("string")
                  for r in range(rows)]
            )
            for b in range(bands)
        ]
    )


def sig_agreement(sig_a, sig_b, num_hashes: int) -> Column:
    """Estimated jaccard from signature agreement — the matching
    fraction of two equal-length signatures, rounded at 4."""
    return F.round(
        F.aggregate(
            F.zip_with(sig_a, sig_b,
                       lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double") / F.lit(float(num_hashes)),
        4,
    )


def minhash_lsh_pairs_portable(df: DataFrame, text_col: str, id_col: str,
                               num_hashes: int = 32,
                               max_df: int | None = None,
                               sigs: DataFrame | None = None) -> DataFrame:
    """Portable-family twin of :func:`minhash_lsh_pairs` — same
    banding plan shape (explode band keys → uniform shuffle →
    per-bucket self-join), same output schema, but every value is
    SQL-replayable: band keys are the PLAIN string of the slice (no
    hash — the join key shuffles on the string) and est_jaccard is
    the exact matching fraction of the portable signatures.
    ``max_df`` is the same hot-band cap as the production family
    (:func:`_drop_hot_bands`); the oracle SQL mirrors it with a
    ``hot`` CTE so value parity holds even when the cap bites.
    Pass ``sigs`` (a prebuilt/cached (doc, sig) frame from
    :func:`minhash_signatures_portable`) to share one signature build
    across consumers — value-identical by construction."""
    sig = sigs if sigs is not None else minhash_signatures_portable(
        df, text_col, id_col, num_hashes=num_hashes)
    banded = sig.select(
        "doc", "sig",
        F.explode(portable_band_keys("sig", num_hashes,
                                     MINHASH_PORT_BANDS)).alias("band"),
    )
    if max_df is not None:
        banded = _drop_hot_bands(banded, max_df)
    banded = banded.cache()
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on="band")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            sig_agreement(F.col("a.sig"), F.col("b.sig"),
                          num_hashes).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs._cached_inputs = [banded]  # see release()
    return pairs


def incremental_near_dups(batch: DataFrame, ref: DataFrame, text_col: str,
                          id_col: str,
                          num_hashes: int = 32,
                          max_df: int | None = None,
                          sig_batch: DataFrame | None = None,
                          sig_ref: DataFrame | None = None) -> DataFrame:
    """Near-duplicate screening of a NEW batch against an EXISTING
    corpus — the near-dup sibling of the exact anti-join (q49): a
    fresh crawl must be deduplicated against everything already
    ingested WITHOUT re-pairing the reference corpus with itself.
    MinHash banding (the portable md5+affine family, so the whole
    verdict frame is SQL-replayable) generates batch×ref candidates:
    the join is batch-bands ⨝ ref-bands — candidate work is bounded by
    the BATCH's bucket contacts, never |ref|² — and each batch
    document reduces to (candidate count, max estimated jaccard,
    verdict) via one map-combinable agg. Every batch document gets a
    row (no candidates → 0 / 0.0 / kept).

    Shape at scale: reference signatures are a linear scan of the
    corpus ONCE (production persists them next to the corpus —
    (doc, 32 longs) is a few GB per billion docs); the band join
    shuffles on uniform string keys; nothing quadratic anywhere.
    ``max_df`` caps hot bands counted over BOTH sides combined
    (a band held by f_b batch docs and f_r ref docs fans out
    f_b·f_r candidate rows — boilerplate shared across a templated
    corpus and its re-crawls hits both sides at once); dropped keys
    come off both sides, so the verdict stays symmetric.
    """
    # localCheckpoint (r12): with max_df set, each side's band frame
    # feeds BOTH the hot-band count and the candidate join — without
    # materialization the full shingle→fp→32-min signature pipeline
    # ran twice per side (4 corpus-scale builds per run). Both sides
    # materialize in ONE job (side-tagged union — two eager
    # checkpoints ran serially, leaving the cluster idle through each
    # build's stage tail; guide §2.6); the band explode re-derives
    # from the checkpointed (doc, sig) leaf. Production persists
    # signatures next to the corpus anyway (see Shape at scale below).
    sb = sig_batch if sig_batch is not None else \
        minhash_signatures_portable(batch, text_col, id_col,
                                    num_hashes=num_hashes)
    sr = sig_ref if sig_ref is not None else \
        minhash_signatures_portable(ref, text_col, id_col,
                                    num_hashes=num_hashes)
    sig_all = (
        sb.select("doc", "sig").withColumn("_b", F.lit(True))
        .unionByName(
            sr.select("doc", "sig").withColumn("_b", F.lit(False))
        )
        .localCheckpoint()
    )
    sig_b = sig_all.where(F.col("_b")).select("doc", "sig")
    sig_r = sig_all.where(~F.col("_b")).select("doc", "sig")
    keys = portable_band_keys("sig", num_hashes, MINHASH_PORT_BANDS)
    bb = sig_b.select(F.col("doc").alias("bid"), F.col("sig").alias("bsig"),
                      F.explode(keys).alias("band"))
    rb = sig_r.select(F.col("doc").alias("rid"), F.col("sig").alias("rsig"),
                      F.explode(keys).alias("band"))
    if max_df is not None:
        hot = (
            bb.select("band").unionByName(rb.select("band"))
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") > max_df)
            .select("band")
        )
        bb = bb.join(F.broadcast(hot), "band", "left_anti")
        rb = rb.join(F.broadcast(hot), "band", "left_anti")
    cands = (
        bb.join(rb, "band")
        .select("bid", "rid", "bsig", "rsig")
        .dropDuplicates(["bid", "rid"])
        .select("bid", sig_agreement(F.col("bsig"), F.col("rsig"),
                                     num_hashes).alias("est"))
    )
    per = cands.groupBy("bid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.max("est").alias("max_est_jaccard"),
    )
    ids = batch.select(F.col(id_col).alias("bid"))
    return (
        ids.join(per, "bid", "left")
        .select(
            F.col("bid").alias(id_col),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint")
            .alias("n_candidates"),
            F.coalesce("max_est_jaccard", F.lit(0.0))
            .alias("max_est_jaccard"),
            (F.coalesce("max_est_jaccard", F.lit(0.0)) >= 0.5)
            .cast("int").alias("is_dup"),
        )
    )


def simhash32_portable(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Portable 32-bit SimHash: the exact bit-vote pipeline of
    :func:`simhash` (explode tokens → per-bit frequency-weighted
    majority) over the md5-derived 32-bit token fingerprint instead of
    xxhash64 — every sum, comparison, and the packed signature replay
    in SQL, and the packed value stays in [0, 2^32) so no engine ever
    faces signed-overflow games. Half the bits of the production
    signature → coarser resolution (documented variant trade); the
    banding/pigeonhole machinery is shared via
    :func:`simhash_near_pairs`'s ``sig_bits`` parameter.

    NULL text coalesces to '' BEFORE tokenization (r9, cross-engine
    contract): Spark's explode_outer keeps a NULL-text doc as a
    sig-0 row, but SQL ``unnest(string_split_regex(NULL, ...))``
    emits zero rows and the doc would vanish from the oracle's
    signatures — coalescing on both sides makes the value-hash
    contract corpus-shape independent."""
    toks = _fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode_outer(
            F.split(
                F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+",
            )
        ).alias("w"),
    )
    valid = F.col("w").isNotNull() & (F.col("w") != "")
    hashed = toks.select(
        "doc",
        F.when(valid, fp32_expr(F.col("w"))).alias("h"),
    )
    bit = lambda i: F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))  # noqa: E731
    sigs = hashed.groupBy("doc").agg(
        F.count("h").alias("_n"),
        *[F.sum(bit(i)).alias(f"_b{i}") for i in range(32)],
    )
    packed = None
    for i in range(32):
        cnt = F.coalesce(F.col(f"_b{i}"), F.lit(0))
        term = F.shiftleft((cnt * 2 > F.col("_n")).cast("long"), i)
        packed = term if packed is None else packed.bitwiseOR(term)
    return sigs.select("doc", packed.alias("simhash"))


def shingle_hash_rows(df: DataFrame, text_col: str,
                      id_col: str) -> DataFrame:
    """Distinct (doc, 64-bit word 3-gram shingle hash) rows — the
    candidate-join input of the exact-jaccard family. Hashes
    (xxhash64) instead of strings: smaller shuffle, cheaper sort, same
    pairs (collision odds ~n²/2⁶⁴). Exposed so callers running several
    jaccard variants (plain + max_df-capped) can build and cache it
    once."""
    return (
        shingle_rows(df, text_col, id_col, distinct=False)
        .select("doc", F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        threshold: float = 0.5,
                        max_df: int | None = None,
                        shingles: DataFrame | None = None) -> DataFrame:
    """Exact word 3-gram Jaccard similarity for pairs sharing ≥1
    shingle.

    explode(shingles) → self-join on shingle → |∩| per pair, then
    |A∪B| = |A|+|B|−|∩|. The shingle join is the candidate generator;
    at 100 TB this runs *after* an LSH/banding prefilter (see
    minhash_lsh_pairs) — kept exact here as the verification pass.

    Pass ``shingles`` (a cached :func:`shingle_hash_rows` frame) to
    share one shingle build across variants; the caller then owns its
    lifetime (it is left out of ``_cached_inputs``).
    """
    owns_cache = shingles is None
    cached = (
        shingle_hash_rows(df, text_col, id_col).cache()
        if owns_cache
        else shingles
    )  # reused three times (two join sides + sizes)
    sh = cached
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        # Scale lever: a shingle appearing in f documents generates
        # O(f²) candidate rows while contributing the same +1 to every
        # true near-dup's intersection. Dropping shingles with document
        # frequency > max_df bounds the join at the cost of slightly
        # underestimating jaccard for pairs that shared them (union
        # sizes above are computed BEFORE the cap, so jaccard only
        # decreases — no false positives appear).
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), on="shingle", how="left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    # no broadcast hint: sizes has one row per CORPUS document, far too
    # big to force to the driver at scale — the planner broadcasts it
    # when stats allow and shuffles on the uniform doc key otherwise
    jac = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )
    # the CACHED frame, not `sh` — with max_df set, `sh` is rebound to
    # the anti-joined (uncached) derivative and release() would leak
    # the real cache entry
    jac._cached_inputs = [cached] if owns_cache else []  # see release()
    return jac


def decontaminate(train: DataFrame, eval_df: DataFrame, text_col: str,
                  id_col: str) -> DataFrame:
    """Train/eval decontamination: find training documents that share
    any word 3-gram with an evaluation/benchmark set, so
    they can be dropped before training (the standard n-gram-overlap
    decontamination of GPT-3 appendix C / PaLM §7).

    Returns ``(id_col, n_shared_shingles)`` for contaminated training
    docs only — callers anti-join this against the corpus to clean it.

    Shape at scale: both sides shingle via :func:`shingle_rows`
    (distinct per doc), the eval side collapses to a distinct shingle
    SET and is broadcast — eval suites are tiny next to a training
    corpus, so the contamination probe is a broadcast hash join the
    train scan streams through; output rows are bounded by the train
    shingle count (linear, never the quadratic shared-shingle blowup
    of an all-pairs join). Joins on the shingle STRING, not a hash —
    exactness is the point of decontamination.
    """
    tr = shingle_rows(train, text_col, id_col)
    ev = (
        shingle_rows(eval_df, text_col, id_col)
        .select("shingle")
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .select(F.col("doc").alias(id_col), "n_shared_shingles")
    )


# the Jaccard cut of lsh_jaccard_pairs
JACCARD_TAU = 0.5


def lsh_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                      shingles: DataFrame | None = None,
                      candidates: DataFrame | None = None) -> DataFrame:
    """LSH-prefiltered exact Jaccard of word 3-grams, pairs at
    ≥ ``JACCARD_TAU``: the 100 TB composition.

    :func:`ngram_jaccard_pairs` alone joins on shared shingles, which
    is quadratic when the shingle vocabulary saturates (every shingle
    hot). This runs MinHash banding first and computes exact Jaccard
    only for candidate pairs, so the per-pair verify cost is
    ``|candidates| × avg doc size`` — independent of how hot the
    shingle space is:

    band bucket self-join (bounded buckets) → candidate (a, b) pairs
    → join each side to its per-doc sorted shingle-hash set (shuffles
    on doc id, uniform) → ``array_intersect`` size per pair.

    Misses only pairs LSH never buckets together: with the default
    64/16 banding, P(miss) ≈ (1 − s⁴)¹⁶ — 0.5% at s = 0.73, < 1e-6 at
    s ≥ 0.9. Deterministic (fixed-seed xxhash64), so results are
    reproducible run-to-run on the same data. Same output schema as
    :func:`ngram_jaccard_pairs`.
    """
    # One shingle explode feeds BOTH stages: the banding prefilter
    # min-aggregates over it (min is dup-invariant, and
    # xxhash64-of-hash is still a uniform hash family) and the verify
    # pass collects it into per-doc sets (collect_set dedups, so no
    # extra distinct shuffle is added anywhere). The explode dominates
    # the scan cost; caching it pays it once. A caller-provided
    # ``shingles`` frame (:func:`shingle_hash_rows`, distinct) is
    # equivalent on both paths — min and collect_set are dup-invariant
    # — and shares the one explode across the whole dedup family.
    owns_cache = shingles is None
    sh = (
        shingle_rows(df, text_col, id_col, distinct=False)
        .select("doc", F.xxhash64("shingle").alias("shingle"))
        .cache()
        if owns_cache
        else shingles
    )
    # A caller holding the banding output already (a session memo
    # shared with the minhash demo/gate queries) passes it as
    # ``candidates`` — the prefilter stage then costs nothing here.
    owns_raw = candidates is None
    raw = (
        minhash_lsh_pairs(df, text_col, id_col, shingles=sh)
        if owns_raw
        else candidates
    )
    cand = raw.select("doc_a", "doc_b").cache()
    # Per-doc shingle sets, restricted to docs that survived LSH; the
    # arrays ride the pair join instead of re-exploding per shingle.
    in_cand = cand.select(F.col("doc_a").alias("doc")).unionByName(
        cand.select(F.col("doc_b").alias("doc"))
    ).distinct()
    sets = (
        sh.join(in_cand, "doc", "left_semi")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_set("shingle")).alias("shs"))
        .withColumn("sz", F.size("shs").cast("bigint"))
    )
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("shs").alias("_sa"),
                     F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("shs").alias("_sb"),
                     F.col("sz").alias("sz_b"))
    out = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")).cast("bigint"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .where(F.col("jaccard") >= JACCARD_TAU)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )
    out._cached_inputs = [  # see release()
        cand,
        *([sh] if owns_cache else []),
        *(getattr(raw, "_cached_inputs", ()) if owns_raw else ()),
    ]
    return out


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side (no Python in the
    hot path): explode whitespace tokens → ``xxhash64(token)`` → one
    NULL-skipping ``sum`` aggregate per bit, then pack the 64 majority
    bits back into one long.

    Same explode+aggregate shape as :func:`minhash_signatures` — the
    shuffle carries 64 small longs + a count per document, map-side
    partially aggregated, whole-stage codegen end to end. Token
    *frequency* weights the vote (classic SimHash), so tokens are
    exploded without dedup.

    Bit ``i`` is set iff tokens with bit ``i`` = 1 outnumber those with
    0, i.e. ``2 * sum(bit_i) > n_tokens``; ties round down (matches the
    previous ``votes > 0`` rule). Documents with no tokens (empty/null
    text) get signature 0, kept via ``explode_outer``.

    Deterministic: xxhash64 with a fixed seed is stable across
    runs/partitions/engines.
    """
    toks = _fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode_outer(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    )
    # Pre-project the hash once: 64 aggregates referencing a shared
    # column, not 64 re-inlined xxhash64(w) children.
    valid = F.col("w").isNotNull() & (F.col("w") != "")
    hashed = toks.select(
        "doc",
        F.when(valid, F.xxhash64("w")).alias("h"),
    )
    bit = lambda i: F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
    # Two bit-counts ride each aggregation column (bit i in the low 32
    # bits, bit i+32 in the high 32): counts stay independent for any
    # document under 2^32 tokens, and halving the aggregate columns
    # cuts the aggregation wall ~35% (1.27 s -> 0.82 s at sf0.1).
    pair = lambda i: bit(i).bitwiseOR(F.shiftleft(bit(i + 32), 32))
    sigs = hashed.groupBy("doc").agg(
        F.count("h").alias("_n"),  # count(col): NULL (empty-token) rows don't vote
        *[F.sum(pair(i)).alias(f"_p{i}") for i in range(32)],
    )
    packed = None
    for i in range(64):
        # coalesce: a no-token doc has NULL sums — its bits are all 0
        p_col = F.coalesce(F.col(f"_p{i % 32}"), F.lit(0))
        cnt = (
            p_col.bitwiseAND(F.lit(0xFFFFFFFF))
            if i < 32
            else F.shiftright(p_col, 32)
        )
        term = F.shiftleft((cnt * 2 > F.col("_n")).cast("long"), i)
        packed = term if packed is None else packed.bitwiseOR(term)
    return sigs.select("doc", packed.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 8, band_bits: int = 16,
                       sigs: DataFrame | None = None,
                       sig_bits: int = 64,
                       max_df: int | None = None) -> DataFrame:
    """Near-dup candidates: band the 64-bit simhash into 64/band_bits
    chunks, join on chunk, verify with exact Hamming distance.

    Pigeonhole guarantee: pairs with hamming < 64/band_bits always
    share a chunk. band_bits trades recall for bucket size — 8-bit
    bands guarantee hamming ≤7 but give only 256 distinct keys per
    band (big buckets at corpus scale); the 16-bit default keeps
    buckets small and finds ≤3-flip pairs deterministically, farther
    pairs probabilistically.

    Pass ``sigs`` (a (doc, simhash) frame) to skip signature
    computation — e.g. when a corpus contains exact copies whose
    signatures are by construction identical to already-signed
    documents, signing each text once and unioning shifted ids halves
    the explode+aggregate work. ``sig_bits`` sizes the banding to the
    signature width (32 for :func:`simhash32_portable` sigs — without
    it, the high bands of a 32-bit signature are constant 0 and every
    document lands in one quadratic bucket).

    ``max_df`` is the q67 hot-bucket cap at signature scale: a band
    value held by f documents generates O(f²) candidate rows, and
    small ``band_bits`` (the 8-bit portable gate) have only 2^bits
    distinct values per band — at n documents every bucket holds
    ~n/2^bits and the join grows ~n²/2^bits (measured 11.4× at 10×
    for the 32-bit/8-bit gate config). Band values with document
    frequency > ``max_df`` are dropped from candidate generation
    (bounded broadcast drop list); the pigeonhole guarantee then
    holds for pairs retaining ≥ 1 uncapped band. Pick the cap inert
    at the oracle scale and protective beyond it (the q117
    convention)."""
    if sigs is None:
        sigs = simhash(df, text_col, id_col)
    chunks = sigs.select(
        "doc", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("key"),
                )
                for i in range(sig_bits // band_bits)
            ])
        ).alias("chunk"),
    ).select("doc", "simhash", "chunk.band", "chunk.key")
    if max_df is not None:
        hot = (
            chunks.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") > max_df)
            .select("band", "key")
        )
        chunks = chunks.join(F.broadcast(hot), ["band", "key"], "left_anti")
    # tiny (doc, 64-bit sig, band keys) frame; cache it so the
    # self-join below doesn't run the explode+64-agg pipeline per side
    chunks = chunks.cache()
    a, b = chunks.alias("a"), chunks.alias("b")
    out = (
        a.join(b, on=["band", "key"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        # hamming is pair-determined, so filtering before the distinct
        # is identical — and shrinks the dedup shuffle to matches only
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    out._cached_inputs = [chunks]  # see release()
    return out


def tokens_expr(text: Column) -> Column:
    """The ONE whitespace tokenization every gram family uses
    (lower + trim + split) — shared by the gram builders so the
    contract cannot drift."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def gram_hash_expr(gram: Column) -> Column:
    """The md5-substr-conv gram hash (first 8 hex chars as a long) —
    the cross-engine family of winnowing/q106."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")


def _pos_gram_hashes(df: DataFrame, text_col: str, id_col: str,
                     k: int) -> DataFrame:
    """``(doc, pos, h)``: the md5-derived hash of every positional
    word ``k``-gram — the shared front half of winnowing and the
    repeated-span detector (identical expressions, identical analyzed
    plan, identical DuckDB twin)."""
    # map-side positional grams (r12, guide §2.4): zip the token
    # array against its shifted tails, posexplode the gram array (the
    # generator index IS the gram position), drop the null tail
    # slots — no posexplode → lead-window chain, which shuffled and
    # sorted every token by doc id. Same (doc, pos, h) rows.
    def build():
        arr = tokens_expr(F.col(text_col))
        g = arr
        for j in range(1, k):
            tail = F.slice(
                arr, j + 1, F.greatest(F.size(arr) - j, F.lit(0)))
            g = F.zip_with(g, tail, lambda a, b: F.concat(a, F.lit(" "), b))
        return (g,)

    # static per (text_col, k): the zip_with chain is ~6·k py4j calls
    # rebuilt identically by every winnow/span consumer (util.memo_cols)
    (g,) = memo_cols(("pos_gram", text_col, k), build)
    grams = _fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(g).alias("pos", "gram"),
    ).where(F.col("gram").isNotNull())
    return grams.select("doc", "pos", gram_hash_expr(F.col("gram")).alias("h"))


def span_dup_frame(df: DataFrame, text_col: str, id_col: str,
                   k: int = 8) -> DataFrame:
    """``(doc, pos, h, n_occ)`` — every positional ``k``-gram whose
    hash occurs more than once corpus-wide: the shared front half of
    :func:`repeated_spans` (q106) and :func:`repeated_spans_cut`
    (q107), exposed so the two span detectors can build it ONCE (the
    retrieval ``postings=`` pattern). The positional-gram frame is
    lazily checkpointed: it feeds both the occurrence agg and the
    join back, which otherwise re-ran the tokenize + gram chain
    twice; the checkpoint materializes token-cardinality rows once
    and the output frame itself is only duplicated-gram-sized."""
    hashed = _pos_gram_hashes(df, text_col, id_col, k).localCheckpoint(
        eager=False)
    occ = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    return hashed.join(occ.where(F.col("n_occ") > 1), "h").select(
        "doc", "pos", "h", "n_occ")


def repeated_spans(df: DataFrame, text_col: str, id_col: str,
                   k: int = 8, min_tokens: int = 16,
                   dup: DataFrame | None = None) -> DataFrame:
    """Maximal repeated-substring spans — the ExactSubstr dedup
    semantics of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499) as a Spark plan: that
    paper builds a suffix array to find every substring of ≥ N tokens
    that occurs more than once in the corpus; here the same spans
    emerge from stride-1 ``k``-gram hashing — a substring repeat of
    length L ≥ k repeats ALL of its L−k+1 consecutive grams, so
    merging consecutive duplicated-gram positions per document
    recovers the maximal repeated span (detection is exact for spans
    ≥ k up to md5 collisions; span EXTENT can over-merge when two
    repeats abut within k tokens — the suffix array's only edge over
    this formulation).

    Unlike q94's ALIGNED fixed passages, these spans are unaligned
    and variable-length: boilerplate that starts mid-passage is still
    caught. Shape at scale: grams ≈ one row per corpus token — one
    map-combinable count agg keyed by gram hash, one hash-keyed join
    back, then doc-keyed windows (lag + running sum, the sessionize
    pattern). Everything linear in corpus tokens; no suffix array,
    no global sort.

    Returns ``(id, span_start, span_tokens, max_occ)`` — start token
    position, span length in tokens, and the hottest gram's occurrence
    count (how widely the boilerplate spreads). Pass ``dup`` (a
    cached :func:`span_dup_frame`) to share the gram front half with
    :func:`repeated_spans_cut` — value-identical by construction.
    """
    if dup is None:
        dup = span_dup_frame(df, text_col, id_col, k)
    w = Window.partitionBy("doc").orderBy("pos")
    runs = dup.select(
        "doc", "pos", "n_occ",
        F.when(F.col("pos") == F.lag("pos").over(w) + 1, 0)
        .otherwise(1)
        .alias("new_run"),
    ).withColumn(
        "run",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy("doc", "run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long")
            .alias("span_tokens"),
            F.max("n_occ").cast("long").alias("max_occ"),
        )
        .where(F.col("span_tokens") >= min_tokens)
        .select(
            F.col("doc").alias(id_col),
            F.col("span_start").cast("long"),
            "span_tokens",
            "max_occ",
        )
    )


# shortest repeated span, in tokens, that repeated_spans_cut cuts
RS_MIN_TOKENS = 16


def repeated_spans_cut(df: DataFrame, text_col: str, id_col: str,
                       k: int = 8,
                       dup: DataFrame | None = None) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (Lee et al. 2022 cut the
    duplicated bytes, not the documents): every repeated span found by
    :func:`repeated_spans` survives only at its FIRST occurrence —
    the min ``(doc, span_start)`` over the EMITTED SPANS that share
    the same opening gram hash (a combinable min-struct like passage
    dedup's) — and every later occurrence's tokens are cut.

    The keeper is chosen from the spans frame itself, NOT from the
    opening gram's global first occurrence: that raw-gram argmin can
    land mid-run in another document (adjacent repeats merged into one
    longer run) or in a document whose duplicated run is below
    ``RS_MIN_TOKENS`` (a partial copy emits no span at all), in which
    case no span would match it and EVERY occurrence of the
    boilerplate would be cut — including the first. Grouping over the
    emitted spans guarantees exactly one survivor per span family.

    Output: ``(id, text_clean, n_tokens_kept, n_cut_tokens,
    n_spans_cut)``. ``text_clean`` is rebuilt from the ORIGINAL-case
    tokens (positions align with the lowered gram positions because
    the split pattern is identical); whitespace runs collapse to
    single spaces — the same normalization every tokenizing operator
    here applies.

    Shape at scale: the detector's linear plan, plus one doc-keyed
    anti-join of tokens against the (few) cut ranges and one doc-keyed
    rebuild agg. Nothing quadratic, nothing driver-side. Pass ``dup``
    (a cached :func:`span_dup_frame`) to share the gram front half
    with :func:`repeated_spans` — value-identical by construction.
    """
    if dup is None:
        dup = span_dup_frame(df, text_col, id_col, k)
    w = Window.partitionBy("doc").orderBy("pos")
    runs = dup.select(
        "doc", "pos", "h",
        F.when(F.col("pos") == F.lag("pos").over(w) + 1, 0)
        .otherwise(1)
        .alias("new_run"),
    ).withColumn(
        "run",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = (
        runs.groupBy("doc", "run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
            F.min_by("h", "pos").alias("h_start"),
        )
        .where(F.col("span_tokens") >= RS_MIN_TOKENS)
    )
    keepers = spans.groupBy("h_start").agg(
        F.min(F.struct("doc", "span_start")).alias("keep")
    )
    cut = (
        spans.join(keepers, "h_start")
        .where(
            (F.col("keep.doc") != F.col("doc"))
            | (F.col("keep.span_start") != F.col("span_start"))
        )
        .select(
            "doc",
            F.col("span_start").alias("cut_start"),
            (F.col("span_start") + F.col("span_tokens")).alias("cut_end"),
        )
    )
    return _cut_ranges_and_rebuild(df, text_col, id_col, cut)


def _cut_ranges_and_rebuild(df: DataFrame, text_col: str, id_col: str,
                            cut: DataFrame) -> DataFrame:
    """Shared APPLY tail of the span cutters (ExactSubstr q107 and the
    span decontaminator): anti-join tokens against the per-doc cut
    ranges ``(doc, cut_start, cut_end)``, rebuild the surviving text
    in position order, report kept/cut counts. One doc-keyed
    anti-join + one doc-keyed rebuild agg — linear, nothing
    driver-side."""
    toks = _fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "w"),
    )
    kept = toks.join(
        cut,
        (toks["doc"] == cut["doc"])
        & (toks["pos"] >= cut["cut_start"])
        & (toks["pos"] < cut["cut_end"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
    )
    # per-doc token totals MAP-SIDE from the split array length — the
    # explode above emits exactly size(split(...)) rows per non-null
    # text and zero rows for null text, so size() + an isNotNull guard
    # reproduces the old explode→count agg while removing the second
    # full tokenize+explode pass over the corpus (r13, guide §2.4)
    totals = df.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
        .alias("n_total"),
    ).where(F.col("n_total") >= 0)
    n_cut_spans = cut.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans_cut")
    )
    return (
        totals.join(rebuilt, "doc", "left")
        .join(n_cut_spans, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long")
            .alias("n_tokens_kept"),
            (F.col("n_total") - F.coalesce("n_tokens_kept", F.lit(0)))
            .cast("long")
            .alias("n_cut_tokens"),
            F.coalesce("n_spans_cut", F.lit(0)).cast("long")
            .alias("n_spans_cut"),
        )
    )


def decontaminate_spans(train: DataFrame, eval_df: DataFrame,
                        text_col: str, id_col: str,
                        k: int = 8, min_tokens: int = 16) -> DataFrame:
    """SURGICAL train/eval decontamination: cut every verbatim run of
    ≥ ``min_tokens`` words shared with the eval suite OUT of the
    training text, keeping the rest of the document — the middle
    ground the binary operators miss (q62/q81 DROP whole documents; a
    99%-clean document with one embedded eval question should lose
    the question, not the document). This is the cross-corpus
    ExactSubstr apply: Lee et al. 2022's cut rule with the eval suite
    as the reference side, and the standard surgical variant of
    GPT-3 appendix-C decontamination.

    Same stride-1 ``k``-gram machinery as q106/q107: a shared run of
    length L ≥ k matches all its L−k+1 consecutive grams, so
    sessionizing consecutive matching positions per train doc
    recovers the maximal leaked span. UNLIKE q107 there is no keeper
    — eval text must survive NOWHERE in train — so every qualifying
    span is cut.

    Shape at scale: the eval suite's distinct gram-hash set is
    bounded (eval ≪ train) and BROADCASTS (the q62/q81 contract);
    the train scan streams through one broadcast semi-join, then the
    doc-keyed sessionize windows and the shared cut/rebuild tail —
    linear in train tokens, nothing quadratic, nothing driver-side.

    Output: ``(id, text_clean, n_tokens_kept, n_cut_tokens,
    n_spans_cut)`` for EVERY train document (clean docs pass through
    with zero cuts).
    """
    ev = (
        _pos_gram_hashes(eval_df, text_col, id_col, k)
        .select("h")
        .distinct()
    )
    hashed = _pos_gram_hashes(train, text_col, id_col, k)
    dup = hashed.join(F.broadcast(ev), "h", "left_semi")
    w = Window.partitionBy("doc").orderBy("pos")
    runs = dup.select(
        "doc", "pos",
        F.when(F.col("pos") == F.lag("pos").over(w) + 1, 0)
        .otherwise(1)
        .alias("new_run"),
    ).withColumn(
        "run",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cut = (
        runs.groupBy("doc", "run")
        .agg(
            F.min("pos").alias("cut_start"),
            (F.max("pos") + k).alias("cut_end"),
        )
        .where(F.col("cut_end") - F.col("cut_start") >= min_tokens)
        .select("doc", "cut_start", "cut_end")
    )
    return _cut_ranges_and_rebuild(train, text_col, id_col, cut)


# word k-gram and window of the winnowing fingerprints
WINNOW_K = 3
WINNOW_W = 4


def winnow_fingerprints(df: DataFrame, text_col: str,
                        id_col: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every word ``WINNOW_K``-gram, slide a window of
    ``WINNOW_W`` consecutive gram hashes per document, keep the
    minimum of each window, distinct. Guarantee: any substring match
    of at least ``WINNOW_K + WINNOW_W - 1`` words between two
    documents shares at least one fingerprint — a POSITIONAL detection
    contract MinHash (whole-doc set similarity) does not give.
    Expected density is 2/(WINNOW_W+1) of the gram count (the
    winnowing bound), so the fingerprint index is a ~60% reduction.

    Cross-engine hash: the first 8 hex chars of md5 parsed as a long
    (Spark ``conv(substr(md5 …),16,10)`` ≡ DuckDB
    ``('0x' || substr(md5 …))::BIGINT``) — unlike the xxhash64 family
    members (minhash/simhash, rows-only checks) this one is fully
    value-hash oracled.

    Shape at scale: posexplode + per-doc windows — the shuffle is
    keyed by doc id (uniform), windows never span documents, no global
    ordering. Documents with fewer than ``WINNOW_K + WINNOW_W - 1``
    words have no complete window and produce no fingerprints (callers
    needing every doc can left-join).
    """
    hashed = _pos_gram_hashes(df, text_col, id_col, WINNOW_K)

    def build():
        owin = Window.partitionBy("doc").orderBy("pos")
        fwin = Window.partitionBy("doc").orderBy("pos").rowsBetween(
            0, WINNOW_W - 1)
        return (
            F.min("h").over(fwin).alias("fp"),
            F.row_number().over(owin).alias("_rk"),
            F.count(F.lit(1)).over(
                Window.partitionBy("doc")).alias("_n"),
        )

    fp_c, rk_c, n_c = memo_cols(("winnow_fp", WINNOW_W), build)
    return (
        hashed.select("doc", fp_c, rk_c, n_c)
        # only COMPLETE windows fingerprint (the guarantee is stated
        # over full windows; incomplete tails would over-select)
        .where(F.col("_rk") <= F.col("_n") - (WINNOW_W - 1))
        .select("doc", "fp")
        .distinct()
    )


def decontaminate_winnow(train: DataFrame, eval_df: DataFrame,
                         text_col: str, id_col: str) -> DataFrame:
    """Positional train/eval decontamination via winnowing: flag
    training documents sharing any fingerprint with the eval suite.

    The winnowing guarantee makes this a CONTIGUOUS-copy detector —
    any verbatim run of ``WINNOW_K + WINNOW_W - 1`` words shared with an eval
    document always shares a fingerprint — whereas
    :func:`decontaminate`'s shingle-set overlap also fires on
    scattered vocabulary overlap. At scale the broadcast side is the
    eval FINGERPRINT set, ~2/(WINNOW_W+1) the size of the full shingle
    set, and the train side is the same broadcast-join-streams-scan
    shape. Returns ``(id_col, n_shared_fps)`` for flagged docs.
    """
    tr = winnow_fingerprints(train, text_col, id_col)
    ev = (
        winnow_fingerprints(eval_df, text_col, id_col)
        .select("fp")
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "fp")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .select(F.col("doc").alias(id_col), "n_shared_fps")
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    ``(doc, rep)`` where ``rep`` is the smallest doc id in the
    component. The missing step between "pair list" and "deduplicated
    corpus" — LSH emits pairs, but keep-one-per-GROUP needs the
    transitive closure (a~b, b~c ⇒ {a,b,c} keep one), the standard
    MinHash→CC composition of the dedup literature.

    Min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels.
    Convergence is detected by counting CHANGED labels in the round
    (an emptiness probe on a flag column — no data ever reaches the
    driver, and unlike a label-sum test it cannot be fooled by 64-bit
    wraparound on hash-valued doc ids). If ``max_iter`` is exhausted
    before the fixpoint (component diameter > max_iter) a warning is
    logged — representatives may then disagree within a component.
    Rounds needed = component diameter, which for
    near-dup clusters is small (they are near-cliques: 2-4 rounds in
    practice); ``localCheckpoint`` cuts the growing join lineage each
    round. At extreme diameters (long chain graphs — not the dup
    workload) the alternating large-star/small-star algorithm halves
    rounds; not needed here.

    Only documents appearing in ``pairs`` get a row — singletons are
    their own representative by definition and never shuffle.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("rep", F.col("doc"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc"])
            .groupBy(F.col("src").alias("doc"))
            .agg(F.min("rep").alias("nbr_rep"))
        )
        updated = (
            labels.join(neighbor_min, "doc", "left")
            .select(
                "doc",
                F.least(
                    F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))
                ).alias("rep"),
                (
                    F.coalesce(F.col("nbr_rep"), F.col("rep")) < F.col("rep")
                ).alias("chg"),
            )
            .localCheckpoint()
        )
        labels = updated.drop("chg")
        if updated.where(F.col("chg")).isEmpty():
            converged = True
            break
    if not converged:
        logging.getLogger(__name__).warning(
            "dup_clusters: max_iter=%d exhausted before the label "
            "fixpoint; representatives may disagree within components "
            "of diameter > max_iter",
            max_iter,
        )
    return labels.select(F.col("doc").alias("doc_id"), "rep")


def dedup_apply(df: DataFrame, clusters: DataFrame, id_col: str) -> DataFrame:
    """Keep one document per duplicate cluster: drop every cluster
    member except its representative. Broadcast-sized in the common
    case (the drop list is bounded by the number of near-dup docs, far
    smaller than the corpus); Spark picks broadcast vs shuffle from
    stats — the anti join streams the corpus scan either way."""
    drop = clusters.where(F.col("doc_id") != F.col("rep")).select("doc_id")
    return df.join(
        drop.withColumnRenamed("doc_id", id_col), on=id_col, how="left_anti"
    )


def soft_dedup_weights(df: DataFrame, clusters: DataFrame,
                       id_col: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicate cluster
    members (:func:`dedup_apply`), DOWNWEIGHT them — every member of a
    k-document cluster gets sampling weight 1/k, unclustered documents
    weight 1.0, so the corpus-level expected token mass per distinct
    content piece is constant (SoftDeDup, He et al. 2024,
    arXiv:2407.06654: reweighting recovers the quality loss of hard
    removal while keeping the data diversity; the reference engine has
    no dedup at all — this is the q68 cluster map's third consumer
    beside keep-one/keep-best).

    Weight = rnd(1/cluster_size): one rounded scalar division from an
    exact BIGINT count, so the value-hash contract holds in any
    engine. Output keeps ALL documents (same row count as the corpus).

    Shape at scale: cluster sizes are one agg over the (bounded,
    near-dup-doc-sized) cluster map, then a broadcast-sized LEFT join
    against the corpus scan — the corpus itself never shuffles.
    """
    sizes = clusters.groupBy("rep").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    member = clusters.join(sizes, "rep").select(
        F.col("doc_id").alias(id_col), "cluster_size"
    )
    return (
        df.join(member, id_col, "left")
        .withColumn(
            "cluster_size",
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long"),
        )
        .withColumn(
            "sample_weight",
            rnd(F.lit(1.0) / F.col("cluster_size").cast("double"),
                6),
        )
    )


def passage_dedup(df: DataFrame, text_col: str, id_col: str,
                  passage_words: int = 8) -> DataFrame:
    """Passage-level exact substring dedup: C4's "previously-seen
    span" rule (Raffel et al. 2020 §2.2 removes any repeated
    three-sentence span; Lee et al. 2021's ExactSubstr generalizes
    it). Documents split into consecutive ``passage_words``-word
    passages; every occurrence of a passage EXCEPT the first (by
    ``(doc id, position)``) is cut, and the surviving passages are
    stitched back into ``clean_text``. This is the missing granularity
    between doc-level dedup (whole doc dropped) and nothing: boilerplate
    headers/footers repeated across millions of pages get cut while
    the unique remainder of each page survives.

    First-occurrence selection is ``min(struct(doc, idx))`` per
    passage hash — lexicographic struct min is a map-side-combinable
    agg (no per-hash sort, so a passage repeated 10⁹ times costs a
    partial-agg cell, not a single-task sort) and, unlike an encoded
    ``doc·C + idx`` key, cannot overflow for hash/snowflake-magnitude
    document ids.

    Reconstruction joins passages with single spaces (the corpus is
    single-spaced; original runs of whitespace are not preserved).

    Shape at scale: one passage explode (map), one agg keyed by
    passage hash, one hash-keyed join back, one per-doc agg. All
    linear, all JVM; the only stateful structure is the first-key agg
    cell per distinct passage.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_pass = F.greatest(
        F.lit(1),
        F.ceil(F.array_size(words) / F.lit(float(passage_words))).cast("int"),
    )
    passages = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            words.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("idx"),
        )
        .select(
            "doc",
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
        .withColumn("h", F.md5("passage"))
        .withColumn("k", F.struct("doc", "idx"))
    )
    firsts = passages.groupBy("h").agg(F.min("k").alias("first_k"))
    flagged = passages.join(firsts, "h").withColumn(
        "dup",
        (F.col("k.doc") != F.col("first_k.doc"))
        | (F.col("k.idx") != F.col("first_k.idx")),
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("idx", "dup", "passage"))
                        ),
                        lambda s: ~s["dup"],
                    ),
                    lambda s: s["passage"],
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("n_passages").cast("bigint").alias("n_passages"),
            "n_dropped",
            "clean_text",
        )
    )


def dedup_apply_best(df: DataFrame, clusters: DataFrame, scores: DataFrame,
                     id_col: str, score_col: str) -> DataFrame:
    """Keep the BEST document per duplicate cluster instead of
    :func:`dedup_apply`'s min-id representative — the curator policy
    of CommonCrawl pipelines ("among near-duplicates keep the longest
    / highest-quality copy"). ``scores`` maps cluster members' ids to
    a score; rank is (score DESC NULLS LAST, id ASC), so ties stay
    deterministic and a member MISSING from ``scores`` still ranks
    (below every scored sibling) instead of silently escaping the
    drop list through an inner join.

    Shape at scale: cluster membership joins its scores on the doc id,
    one window per representative ranks members (near-dup clusters are
    near-cliques — a handful of rows each), and the resulting drop
    list anti-joins the corpus scan exactly like :func:`dedup_apply`.
    """
    from pyspark.sql import Window

    members = clusters.join(
        scores.withColumnRenamed(id_col, "doc_id"), "doc_id", "left"
    )
    w = Window.partitionBy("rep").orderBy(
        F.col(score_col).desc_nulls_last(), F.col("doc_id").asc()
    )
    drop = (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    return df.join(
        drop.withColumnRenamed("doc_id", id_col), on=id_col, how="left_anti"
    )


def eval_containment(train: DataFrame, eval_df: DataFrame, text_col: str,
                     id_col: str) -> DataFrame:
    """Graded train/eval contamination: for EVERY training document,
    the fraction of its distinct word 3-gram shingles found anywhere in the
    eval suite — the GPT-3-style n-gram overlap fraction (Brown et
    al. 2020, App. C) that curators threshold and report, where
    :func:`decontaminate` only surfaces the binary flag set.

    Returns ``(id, n_shingles, n_hits, containment)`` for all train
    docs (0.0 for clean ones), so the output supports both the
    "remove above τ" apply and the contamination-histogram report.

    Shape at scale: identical to :func:`decontaminate` — the eval
    DISTINCT shingle set broadcasts, the train side streams through
    one left join + per-doc agg keyed by doc id. No pairwise work.
    """
    tr = shingle_rows(train, text_col, id_col, distinct=True)
    ev = (
        shingle_rows(eval_df, text_col, id_col, distinct=True)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        tr.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            "n_hits",
            rnd(F.col("n_hits") / F.col("n_shingles"), 4).alias(
                "containment"
            ),
        )
    )


# edit-similarity cut of edit_dup_pairs
EDIT_SIM_TAU = 0.8


def edit_dup_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Character-level near-duplicate pairs: MinHash-LSH banding
    proposes candidates, EXACT Levenshtein verifies — the fuzzy-verify
    complement of q56's exact-Jaccard path for edits Jaccard shingles
    blur (in-word typos, small insertions that shift every shingle).

    ``edit_sim = 1 − lev(a, b) / max(len(a), len(b))``; pairs with
    edit_sim ≥ ``EDIT_SIM_TAU`` survive. Levenshtein runs as the JVM built-in
    on CANDIDATE pairs only — the quadratic DP (O(len_a·len_b) per
    pair) is confined to same-band buckets exactly like the Jaccard
    verifier, which is what keeps it off the all-pairs cliff at scale.

    Recall contract — DATA-DEPENDENT, not guaranteed by the operator:
    banding recalls a pair only if its word-shingle Jaccard clears the
    LSH threshold. A pair at edit_sim just above the cut whose edits
    are SPREAD (one typo per word shifts every 3-shingle) can blur
    Jaccard toward 0 and miss every band. The default banding is
    therefore the AGGRESSIVE 64/32 configuration (2 rows/band →
    s50 ≈ 0.18, vs ≈ 0.55 for the 64/16 near-dup default), which
    recalls any pair sharing a modest shingle fraction; on corpora
    where near-cut pairs have edits spread across most words, fall
    back to the brute-force form the oracle replays. The q111 gate data has a
    wide observed gap (background ≤ 0.45 vs dups ≥ 0.93 edit_sim),
    so equality with the brute-force oracle holds there by margin."""
    from ..util import rnd

    # Keep a handle on the PAIRS frame before projecting: .select()
    # returns a fresh DataFrame without the duck-typed _cached_inputs,
    # so reading the attribute off `cands` would always see [] and
    # release() would leak the banded-signature cache every call.
    pairs = minhash_lsh_pairs(df, text_col, id_col, bands=32)
    cands = pairs.select("doc_a", "doc_b")
    ta = df.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    la, lb = F.length("_ta"), F.length("_tb")
    maxlen = F.greatest(la, lb).cast("double")
    sim = rnd(
        F.lit(1.0) - F.levenshtein("_ta", "_tb") / maxlen,
        4,
    )
    # |len_a − len_b| lower-bounds the edit distance, so
    # 1 − |Δlen|/maxlen upper-bounds edit_sim: any pair failing it by
    # more than the rounding step cannot survive the cut —
    # prune it BEFORE paying the O(len²) Levenshtein DP (r13,
    # guide §2.3: shed rows before the expensive operator). The 1e-3
    # slack is > 20× the largest value movement rnd(·, 4)
    # can apply, so the prune is strictly conservative.
    len_ok = (
        F.lit(1.0) - F.abs(la - lb).cast("double") / maxlen
        >= F.lit(EDIT_SIM_TAU - 1e-3)
    )
    # The verify stage's INPUT is a few bytes per pair while its CPU
    # is the quadratic DP — exactly the shape AQE's byte-based
    # coalescing mis-sizes (measured 16 s ↔ 134 s bimodal at 10×
    # scale when the lev stage coalesced to ~1 task). A user-numbered
    # round-robin repartition pins the verify parallelism to the
    # session's core count (AQE preserves user-specified counts;
    # guide §2.6).
    par = df.sparkSession.sparkContext.defaultParallelism
    out = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(len_ok)
        .repartition(par)
        .select("doc_a", "doc_b", sim.alias("edit_sim"))
        .where(F.col("edit_sim") >= EDIT_SIM_TAU)
    )
    out._cached_inputs = getattr(pairs, "_cached_inputs", [])
    return out


def ngram_novelty(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Cross-document n-gram novelty: the fraction of a document's
    DISTINCT word 3-grams that appear in no other document — the
    corpus-level diversity signal complementing q61's WITHIN-document
    repetition ratios. Templated/boilerplate mass reads near 0 (all
    its grams are corpus-common), genuinely novel writing reads near
    1; curation pipelines use it both to up-sample diverse sources
    and as a dedup post-check (after near-dup removal the corpus-wide
    novelty distribution should shift UP — if it doesn't, the
    near-dup pass missed templated families).

    Same shingle convention as the whole dedup family
    (:func:`shingle_rows`: lowercase whitespace words, short docs
    fall back to one whole-text shingle, set semantics per doc).

    Shape at scale: one gram-keyed document-frequency agg and one
    gram-keyed join back — both combinable shuffles on the shingle
    key (the inverted-index sharding); per-doc state is two counters.
    No pairs are ever formed: novelty needs only ``df == 1``, so this
    is LINEAR in corpus grams where the pair families are bucketed-
    quadratic.
    """
    grams = shingle_rows(df, text_col, id_col, distinct=True)
    df_tbl = grams.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("gram_df")
    )
    per = (
        grams.join(df_tbl, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("gram_df") == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_novel"),
        )
    )
    return per.select(
        F.col("doc").alias(id_col),
        "n_shingles",
        "n_novel",
        rnd(
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double"),
            4,
        ).alias("novelty"),
    )


def boilerplate_cut(df: DataFrame, text_col: str, id_col: str,
                    passage_words: int = 8, min_df: int = 3) -> DataFrame:
    """Boilerplate passage removal by cross-document frequency: any
    ``passage_words``-word passage appearing in ≥ ``min_df`` DISTINCT
    documents is cut from EVERY document — including its first
    occurrence, which is the policy difference from
    :func:`passage_dedup`'s keep-first rule. Keep-first is right for
    content that deserves to survive once; a header/footer/cookie
    banner repeated across millions of pages deserves to survive
    zero times (RefinedWeb: Penedo et al. 2023 §3.1 line-level rules;
    CCNet's paragraph-hash filtering: Wenzek et al. 2020 §3).

    Same split as :func:`passage_dedup` (consecutive fixed-width word
    windows, md5 passage hash). The df agg is ``count(DISTINCT doc)``
    per hash — combinable after the per-(hash, doc) pre-distinct the
    explode's groupBy provides; the cut-list join is hash-keyed.

    Shape at scale: one passage explode, one (hash, doc)-keyed
    distinct agg, one hash-keyed df agg, one join back, one per-doc
    reassembly agg — all linear; no per-hash candidate pairs at all
    (this operator never enumerates pairs, so boilerplate shared by
    10⁹ docs costs 10⁹ cut rows, not 10¹⁸ comparisons).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_pass = F.greatest(
        F.lit(1),
        F.ceil(F.array_size(words) / F.lit(float(passage_words))).cast("int"),
    )
    passages = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            words.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("idx"),
        )
        .select(
            "doc",
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
        .withColumn("h", F.md5("passage"))
    )
    dfreq = passages.groupBy("h").agg(
        F.countDistinct("doc").alias("_df")
    )
    flagged = passages.join(dfreq, "h").withColumn(
        "boiler", F.col("_df") >= min_df
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("boiler"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_boiler"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct("idx", "boiler", "passage")
                            )
                        ),
                        lambda s: ~s["boiler"],
                    ),
                    lambda s: s["passage"],
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("n_passages").cast("bigint").alias("n_passages"),
            "n_boiler",
            "clean_text",
        )
    )


# pair_pagerank's power-iteration rounds and damping factor
PR_ITERS, PR_DAMPING = 3, 0.85


def pair_pagerank(pairs: DataFrame) -> DataFrame:
    """PageRank over the near-duplicate pair graph — "which documents
    are template HUBS?": a doc tied to many well-connected near-dups
    ranks far above one in an isolated pair, which cluster size alone
    (q68/q149) can't see. The curation read: hubs are boilerplate
    families worth a targeted rule, not just per-pair dedup.

    ``pairs`` is any (doc_a, doc_b) frame (q33/q31 output). The walk
    runs on the symmetrized edge set, restricted to documents that
    appear in pairs (the dup graph — the corpus complement has no
    edges and would uniformly hold 1/N). The fixed ``PR_ITERS`` rounds
    unroll declaratively — each step is one edge-keyed join + one dst-keyed
    combinable agg, the exact shape of the oracle's CTE chain and of
    a 100 TB Pregel round. Every rank pre-rounds at 8 digits per
    step, so both engines iterate from identical inputs (the q72
    Lloyd ladder applied to a graph walk). Symmetric edges mean no
    dangling mass: out-degree ≥ 1 for every node.

    Shape at scale: |edges| is bounded by the banded candidate
    generation upstream (never all-pairs); the node-count scalar
    rides a broadcast one-row frame, not a driver collect.
    """
    # The symmetric edge set and each round's rank frame feed every
    # subsequent round: localCheckpoint (r12) instead of persist —
    # persist left the full LOGICAL lineage in place, so every round's
    # join/agg re-ANALYZED the whole upstream tree and the final plan
    # dumped at ~4800 lines with Catalyst compile dominating wall time
    # (measured 6.0 s at sf0.1 on a ~5k-node graph). Checkpointing
    # truncates each round to a leaf: one short job per round — the
    # exact materialization a Pregel superstep barrier performs — and
    # constant-size plans no matter how many rounds run. deg/nodes
    # derive from the checkpointed edges per reference (one cheap
    # shuffle each; they stay lazy so no extra storage is pinned).
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    ).distinct().localCheckpoint()
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    ncnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    pr = nodes.crossJoin(F.broadcast(ncnt)).select(
        "doc_id", rnd(F.lit(1.0) / F.col("_n"), 8).alias("pr")
    )
    d = PR_DAMPING
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("doc_id", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("doc_id"),
                rnd(F.col("pr") / F.col("outdeg"), 8).alias("_c"),
            )
            .groupBy("doc_id")
            .agg(rnd(F.sum("_c"), 8).alias("_in"))
        )
        pr = (
            nodes.join(contrib, "doc_id", "left")
            .crossJoin(F.broadcast(ncnt))
            .select(
                "doc_id",
                rnd(
                    (F.lit(1.0) - d) / F.col("_n")
                    + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0)),
                    8,
                ).alias("pr"),
            )
        ).localCheckpoint()
    return pr.select("doc_id", rnd(F.col("pr"), 6).alias("pagerank"))


def split_leakage(df: DataFrame, text_col: str, id_col: str,
                  weights: dict[str, int]) -> DataFrame:
    """Cross-split contamination audit (q175): assign the
    deterministic hash split (:func:`functions.text.hash_split`),
    fingerprint content with md5, and count exact-duplicate groups
    that SPAN split boundaries — the train/test leakage the dedup
    stack exists to prevent, measured directly at the seam.

    One row per split pair (in ``weights`` order): ``n_groups`` =
    fingerprint groups present on both sides, ``n_contam`` = docs on
    the LATER side whose exact content also appears on the earlier
    side (the eval rows you must drop). Shape at scale: one
    content-hash groupBy (uniform 128-bit key — skew-free) + one
    scalar agg per pair over the persisted group frame (released via
    the ``_cached_inputs`` contract).
    """
    from .text import hash_split

    splits = list(weights)
    sp = hash_split(df.select(id_col, text_col), id_col, dict(weights))
    g = (
        sp.groupBy(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp")
        )
        .agg(
            *[
                F.sum((F.col("split") == s).cast("long")).alias(f"n_{s}")
                for s in splits
            ]
        )
        .persist()
    )

    def pair(a: str, b: str) -> DataFrame:
        both = (F.col(f"n_{a}") > 0) & (F.col(f"n_{b}") > 0)
        return g.agg(
            F.lit(f"{a}-{b}").alias("pair"),
            F.coalesce(F.sum(both.cast("long")), F.lit(0))
            .cast("long").alias("n_groups"),
            F.coalesce(F.sum(F.when(both, F.col(f"n_{b}"))), F.lit(0))
            .cast("long").alias("n_contam"),
        )

    out = None
    for i in range(len(splits)):
        for j in range(i + 1, len(splits)):
            p = pair(splits[i], splits[j])
            out = p if out is None else out.unionAll(p)
    out._cached_inputs = [g]
    return out


def passage_rows(df: DataFrame, text_col: str, id_col: str,
                 passage_words: int = 8) -> DataFrame:
    """Split documents into consecutive ``passage_words``-word
    passages as a (doc, idx, passage) frame — the shared splitter of
    :func:`passage_dedup` (exact sub-doc dedup) and
    :func:`passage_near_dup_pairs` (fuzzy sub-doc dedup). One explode
    over a literal index sequence; passages keep the ORIGINAL word
    case (consumers lowercase at shingle time, matching the doc-level
    convention)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_pass = F.greatest(
        F.lit(1),
        F.ceil(F.array_size(words) / F.lit(float(passage_words))).cast("int"),
    )
    return (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            words.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("idx"),
        )
        .select(
            "doc",
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
    )


# passage_near_dup_pairs: passage length in words, and the portable
# MinHash hashes and bands its word 3-gram signatures use
PNDP_WORDS = 8
PNDP_HASHES = 16
PNDP_BANDS = 8


def passage_near_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                           threshold: float = 0.5,
                           max_df: int | None = None) -> DataFrame:
    """Paragraph-granularity MinHash near-dup (Dolma §2.3 and
    RefinedWeb both run SUB-document fuzzy dedup; until now fuzzy was
    doc-level only — :func:`minhash_lsh_pairs_portable` — and
    sub-doc was exact-only — :func:`passage_dedup`): passages become
    the dedup unit, signed with the portable md5+affine family so
    every signature, band key, and est_jaccard replays in SQL.

    Returns passage pairs ``(doc_a, idx_a, doc_b, idx_b,
    est_jaccard)`` with est ≥ ``threshold``, ordered pairs by the
    (doc, idx) struct — paraphrased boilerplate (a template with one
    word swapped) lands mid-range where :func:`passage_dedup`'s exact
    hash sees nothing.

    Shape at scale: passage explode is linear; shingles are per-
    passage array HOFs (≤ PNDP_WORDS rows each, no window); the
    band self-join shuffles on uniform string keys with the standard
    two-sided ``max_df`` hot-band cap — template passages repeated
    across millions of pages are exactly the keys the cap drops, so
    candidate volume stays bounded by ``max_df²`` per surviving band.
    """
    pas = passage_rows(df, text_col, id_col, PNDP_WORDS)
    w = F.split(F.lower(F.trim(F.col("passage"))), r"\s+")
    n = 3
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    fp = (
        pas.select("doc", "idx", F.explode(grams).alias("shingle"))
        .select("doc", "idx", fp32_expr(F.col("shingle")).alias("_fp"))
    )
    params = affine_params(PNDP_HASHES)
    sig = fp.groupBy("doc", "idx").agg(
        *[
            F.min((F.col("_fp") * F.lit(a) + F.lit(b)) % F.lit(PORTABLE_P))
            .alias(f"h{i}")
            for i, (a, b) in enumerate(params)
        ]
    ).select(
        "doc", "idx",
        F.array(*[F.col(f"h{i}") for i in range(PNDP_HASHES)]).alias("sig"),
    )
    banded = sig.select(
        "doc", "idx", "sig",
        F.explode(portable_band_keys("sig", PNDP_HASHES, PNDP_BANDS))
        .alias("band"),
    )
    if max_df is not None:
        banded = _drop_hot_bands(banded, max_df)
    banded = banded.cache()
    a, b = banded.alias("a"), banded.alias("b")
    lt = (F.col("a.doc") < F.col("b.doc")) | (
        (F.col("a.doc") == F.col("b.doc")) & (F.col("a.idx") < F.col("b.idx"))
    )
    pairs = (
        a.join(b, on="band")
        .where(lt)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("a.idx").alias("idx_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("b.idx").alias("idx_b"),
            sig_agreement(F.col("a.sig"), F.col("b.sig"),
                          PNDP_HASHES).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "idx_a", "doc_b", "idx_b"])
        .where(F.col("est_jaccard") >= threshold)
    )
    pairs._cached_inputs = [banded]  # see release()
    return pairs


def passage_containment_pairs(df: DataFrame, text_col: str, id_col: str,
                              passage_words: int = 8,
                              max_df: int | None = None) -> DataFrame:
    """Sub-document CONTAINMENT by exact passage overlap (Broder 1997
    distinguishes resemblance from containment; Lee et al. 2021's
    ExactSubstr motivates the passage unit): document pairs sharing
    ≥ 1 passage hash, scored ``shared / min(n_passages)`` with BOTH
    sides counted over DISTINCT surviving passage hashes (Broder
    containment is a set ratio: counting raw passages made internally
    repeated or hot-capped passages deflate the score — two identical
    docs with a repeated passage scored < 1.0; ADVICE r10 fix, pinned
    by tests/test_wave13.py) — the excerpt/quote/partial-overlap
    detector that symmetric jaccard structurally under-scores (a
    3-passage excerpt of a 12-passage doc: jaccard ≤ 0.25,
    containment 1.0).

    Shape at scale: one passage explode + md5 (linear), a passage-
    hash equi-join with the standard hot-key cap (``max_df`` — a
    boilerplate passage in millions of docs is exactly the key the
    cap drops), one pair-keyed count agg, two |docs|-frame joins.
    Never quadratic in the corpus.
    """
    pas = passage_rows(df, text_col, id_col, passage_words)
    ph = pas.select("doc", F.md5("passage").alias("h")).distinct()
    if max_df is not None:
        hot = (
            ph.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") > int(max_df)).select("h")
        )
        ph = ph.join(F.broadcast(hot), "h", "left_anti")
    # denominator = DISTINCT SURVIVING hashes (the same set the
    # numerator joins on), so identical docs score exactly 1.0 even
    # with internal repeats or capped boilerplate passages
    n_pass = ph.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_pass"))
    a = ph.select(F.col("doc").alias("doc_a"), "h")
    b = ph.select(F.col("doc").alias("doc_b"), "h")
    shared = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    from ..util import rnd

    na = n_pass.select(F.col("doc").alias("doc_a"),
                       F.col("n_pass").alias("n_pass_a"))
    nb = n_pass.select(F.col("doc").alias("doc_b"),
                       F.col("n_pass").alias("n_pass_b"))
    cont = rnd(
        F.col("n_shared") / F.least("n_pass_a", "n_pass_b"), 4)
    return (
        shared.join(na, "doc_a").join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", "n_pass_a", "n_pass_b",
                cont.alias("containment"))
        .where(F.col("containment") >= 0.5)
    )


def line_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """LINE-level exact dedup, keep-first (CCNet §3.1 and Dolma both
    deduplicate exact paragraphs/lines corpus-wide before any doc-
    level op — the granularity between :func:`passage_dedup`'s fixed
    word windows and whole-document dedup, and the one that actually
    matches how web boilerplate is laid out: one template line per
    line of markup). Documents split at newlines; lines trim; empty
    lines drop; every occurrence of a line except the first (by
    ``min(struct(doc, pos))`` — the map-side-combinable first-key agg
    of passage_dedup) is cut; survivors stitch back in order with
    newlines.

    Shape at scale: one line explode (map), one md5-keyed combinable
    agg, one hash join back, one per-doc rebuild agg. All linear; the
    only state is the first-key cell per distinct line."""
    lines = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .select("doc", "pos", F.trim(F.col("line")).alias("line"))
        .where(F.col("line") != "")
        .withColumn("h", F.md5("line"))
    )
    first = lines.groupBy("h").agg(
        F.min(F.struct("doc", "pos")).alias("f"))
    kept = lines.join(first, "h").withColumn(
        "_keep",
        (F.col("doc") == F.col("f.doc")) & (F.col("pos") == F.col("f.pos")),
    )
    return (
        kept.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((~F.col("_keep")).cast("long")).cast("long")
            .alias("n_cut"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"),
                                   F.struct("pos", "line")))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )
