"""Sketch/approximate statistics: the 100 TB replacements for the
exact operators.

The exact forms (describe, percentiles, countDistinct) are what the
oracle gate verifies; these are their bounded-memory, one-pass
equivalents for interactive use at full scale. Each sketch documents
what it trades: HLL++ (relative error ~rsd), KLL-style quantiles
(rank error ~1/accuracy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the mergeable summaries (mg_topk survivors, rank-sample kept rows)
# finish on a single-task global window by design — fine while the
# summary is KiB-sized, a silent serialization point if a caller
# passes huge k/m: fail loudly instead (ADVICE r10)
_MAX_SUMMARY_ROWS = 1_000_000


def approx_distinct(df: DataFrame, col: str, by: list[str],
                    rsd: float = 0.05) -> DataFrame:
    """HLL++ distinct count per group: constant memory per group vs
    countDistinct's exact-but-shuffled set. rsd = relative std dev."""
    return df.groupBy(*by).agg(
        F.approx_count_distinct(col, rsd).alias(f"approx_distinct_{col}")
    )


def approx_percentiles(df: DataFrame, value_col: str, by: list[str],
                       probs: tuple[float, ...] = (0.25, 0.5, 0.75)
                       ) -> DataFrame:
    """Mergeable quantile sketch per group — bounded memory, one pass;
    rank error ≤ 1/10000 (vs stats.percentiles' exact sort)."""
    probs_sql = ", ".join(str(p) for p in probs)
    agg = F.expr(
        f"percentile_approx(`{value_col}`, array({probs_sql}), 10000)"
    ).alias("_q")
    out = df.groupBy(*by).agg(agg)
    return out.select(
        *by,
        # :g collapses float noise (0.29*100 -> "29", not 28.999...)
        # and keeps fractional probs distinct (0.999 -> p99_9, not p99)
        *[F.col("_q").getItem(i)
          .alias("p" + f"{p * 100:g}".replace(".", "_"))
          for i, p in enumerate(probs)],
    )


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 1 << 16,
                k_hashes: int = 4) -> DataFrame:
    """Build a Bloom filter over a key column as ONE row holding the
    packed bitmap (``array<bigint>`` of ``m_bits / 64`` words) — the
    broadcastable membership sketch for "have we seen this text/URL/
    doc before" filtering when the reference corpus is too large to
    broadcast as an exact set (the standard incremental-dedup /
    decontamination accelerator; Bloom 1970).

    Hashes are the engine-portable md5 scheme (hash ``j`` = first 8
    hex chars of ``md5(j || ':' || key)`` mod ``m_bits``), so an
    oracle can replay membership EXACTLY: a probe key is "present"
    iff all ``k_hashes`` of its bit positions are set, and the set of
    set-bits is exactly the union of every build key's positions —
    SQL-expressible as a position-set semi-join.

    Shape at scale: one explode to (position) rows → distinct →
    pack into words via one ``bit_or`` agg keyed by word index
    (≤ m/64 groups) → one ``m/64``-row array collapse. The bitmap is
    KiBs regardless of corpus size; false-positive rate ≈
    (1 − e^(−k·n/m))^k, zero false negatives by construction.
    """
    pos = df.select(
        F.explode(
            F.array(*_bloom_positions(key_col, m_bits, k_hashes))
        ).alias("p")
    ).distinct()
    # shiftleft by a COLUMN is SQL-only (the python helper wants an
    # int literal)
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))")
    words = pos.groupBy((F.col("p") / 64).cast("long").alias("w")).agg(
        F.bit_or(bit).alias("bits")
    )
    n_words = (m_bits + 63) // 64  # ceil: keep the partial final word
    # densify to all words (unset words = 0) and collapse to one array
    spark = df.sparkSession
    dense = (
        spark.range(n_words).select(F.col("id").alias("w"))
        .join(words, "w", "left")
        .select("w", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "bits"))),
            lambda s: s["bits"],
        ).alias("bloom")
    )


def _bloom_positions(key_col: str, m_bits: int,
                     k_hashes: int) -> list:
    """The ONE definition of the portable bloom hash family (hash j =
    first 8 hex chars of md5(j || ':' || key) mod m_bits) — shared by
    build and probe so the two can never drift apart."""
    return [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(j)), F.col(key_col))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(m_bits),
        )
        for j in range(k_hashes)
    ]


def bloom_probe(df: DataFrame, key_col: str, bloom: DataFrame,
                m_bits: int = 1 << 16, k_hashes: int = 4) -> DataFrame:
    """Probe a :func:`bloom_build` bitmap: appends ``in_bloom`` = true
    iff every hash position of the key is set. The 1-row bitmap frame
    cross-joins in as a broadcast; the probe is a pure codegen map
    stage over the scan (no shuffle, no Python)."""
    out = df.crossJoin(F.broadcast(bloom))
    pcols = []
    for j, expr in enumerate(_bloom_positions(key_col, m_bits, k_hashes)):
        pc = f"_p{j}"
        out = out.withColumn(pc, expr)
        pcols.append(pc)
    cond = " AND ".join(
        f"((shiftright(element_at(bloom, CAST({pc} / 64 AS INT) + 1),"
        f" CAST(pmod({pc}, 64) AS INT)) & CAST(1 AS BIGINT)) = 1)"
        for pc in pcols
    )
    return out.withColumn("in_bloom", F.expr(cond)).drop("bloom", *pcols)


def cms_build(df: DataFrame, key_col: str, width: int = 256,
              depth: int = 4) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005): a ``depth ×
    width`` counter matrix as (j, b, cnt) rows — THE mergeable
    frequency sketch for "how often does this token/URL/key occur"
    when the exact key-count table is too large to keep (the
    frequency-counting sibling of :func:`bloom_build`'s membership
    bitmap; overestimates only, never under).

    Hash family is the portable bloom scheme (``_bloom_positions`` —
    first 8 hex chars of ``md5(j || ':' || key)`` mod width), so an
    oracle can replay every counter and estimate exactly.

    Shape at scale: one key-count agg (combinable), one ``depth``-way
    explode of the DISTINCT-key frame, one (j, b)-keyed sum — the
    sketch is ``depth·width`` rows regardless of corpus size, and
    two corpus sketches merge by adding counters cell-wise.
    """
    keyed = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    pos = keyed.select(
        "_c",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).cast("long").alias("j"), h.alias("b")
                )
                for j, h in enumerate(
                    _bloom_positions(key_col, width, depth)
                )
            ])
        ).alias("_p"),
    ).select(F.col("_p.j").alias("j"), F.col("_p.b").alias("b"), "_c")
    return pos.groupBy("j", "b").agg(
        F.sum("_c").cast("long").alias("cnt")
    )


def cms_estimate(counters: DataFrame, probes: DataFrame, key_col: str,
                 width: int = 256, depth: int = 4) -> DataFrame:
    """Point-query a :func:`cms_build` sketch: estimate = min over the
    ``depth`` rows of ``counters[j][h_j(key)]`` (0 if a bucket is
    empty). The counter frame is ``depth·width`` rows, so it
    BROADCASTS; probing is a map-side join + a per-key min agg —
    probe-set-sized, corpus size never appears."""
    pos = probes.select(
        key_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).cast("long").alias("j"), h.alias("b")
                )
                for j, h in enumerate(
                    _bloom_positions(key_col, width, depth)
                )
            ])
        ).alias("_p"),
    ).select(key_col, F.col("_p.j").alias("j"), F.col("_p.b").alias("b"))
    joined = pos.join(F.broadcast(counters), ["j", "b"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est_cnt")
    )


def mg_topk(df: DataFrame, col: str, k: int = 20,
            shards: int = 8) -> DataFrame:
    """SpaceSaving / Misra-Gries top-k heavy hitters with MERGE
    (Misra & Gries 1982; Metwally et al. 2005 SpaceSaving; Agarwal et
    al. 2012 prove the summaries mergeable) — the bounded-state
    frequent-items twin of the count-min sketch (CMS answers "how
    often is X?", this answers "WHAT are the top K?"), replacing
    Spark's ``freqItems`` approximation with an engine-reproducible
    summary.

    Two-level construction, exactly the distributed deployment: items
    shard by portable hash (``util.shard_hash`` over the md5 32-bit
    fingerprint — each item lives in ONE shard, so shard counts are
    exact); each shard COMPRESSES its count vector to ≤ k counters by
    the canonical MG step (subtract the (k+1)-th largest count
    ``delta_s``, keep strictly-positive survivors — at most k items
    can exceed the (k+1)-th largest); the ≤ shards·k survivors MERGE
    and compress once more with the global ``delta_g``. Every delta
    is exact integer arithmetic on a deterministic (count DESC, item
    ASC) ranking, so estimates replay bit-for-bit in SQL — unlike a
    stream-order MG whose counters depend on arrival order.

    Returns ≤ k rows: (item, est, true_cnt, gap, bound_ok) with the
    MG guarantees as CHECKED columns: est ≤ true always (we only
    subtract), and gap = delta_s + delta_g ≤ 2N/(k+1) (each
    compression's delta is bounded by its input mass over k+1).

    Shape at scale: ONE combinable item-count agg (the only
    corpus-sized pass); the rank windows run over DISTINCT items
    within a shard — vocabulary-sized, not corpus-sized (a true
    beyond-memory item domain would swap the window for a per-shard
    top-(k+1) TakeOrdered; the compression arithmetic is unchanged).
    The summary itself is ≤ shards·k rows — broadcastable and
    mergeable.
    """
    from pyspark.sql import Window

    from ..functions.dedup import fp32_expr
    from ..util import shard_hash

    if k * shards > _MAX_SUMMARY_ROWS:
        raise ValueError(
            f"mg_topk summary would be k*shards = {k * shards} rows; the "
            f"global merge window runs in ONE task, so it is capped at "
            f"{_MAX_SUMMARY_ROWS} — lower k or shards (ADVICE r10 guard)"
        )
    items = df.select(F.col(col).cast("string").alias("item"))
    cnt = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cnt = cnt.withColumn("shard", shard_hash(fp32_expr(F.col("item")),
                                             shards))
    ws = Window.partitionBy("shard").orderBy(
        F.col("cnt").desc(), F.col("item").asc()
    )
    ranked = cnt.withColumn("rn", F.row_number().over(ws))
    dels = ranked.groupBy("shard").agg(
        F.max(F.when(F.col("rn") == k + 1, F.col("cnt")))
        .alias("_d")
    ).select("shard", F.coalesce("_d", F.lit(0)).alias("delta_s"))
    lvl1 = (
        ranked.join(F.broadcast(dels), "shard")
        .where(F.col("cnt") > F.col("delta_s"))
        .select("item", "cnt", "delta_s",
                (F.col("cnt") - F.col("delta_s")).alias("est1"))
    )
    wg = Window.partitionBy().orderBy(
        F.col("est1").desc(), F.col("item").asc()
    )
    g = lvl1.withColumn("gn", F.row_number().over(wg))
    dg = g.agg(
        F.coalesce(F.max(F.when(F.col("gn") == k + 1, F.col("est1"))),
                   F.lit(0)).alias("delta_g")
    )
    n_tot = items.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    out = (
        g.crossJoin(F.broadcast(dg))
        .where(F.col("est1") > F.col("delta_g"))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "item",
            (F.col("est1") - F.col("delta_g")).cast("long").alias("est"),
            F.col("cnt").alias("true_cnt"),
            (F.col("delta_s") + F.col("delta_g")).cast("long").alias("gap"),
            "n_total",
            (
                (F.col("delta_s") + F.col("delta_g")) * (k + 1)
                <= 2 * F.col("n_total")
            ).alias("bound_ok"),
        )
    )
    return out


def rank_sample_quantiles(df: DataFrame, value_col: str, id_col: str,
                          probs: tuple[float, ...] = (0.25, 0.5, 0.75,
                                                      0.9, 0.99),
                          m: int = 64, shards: int = 4) -> DataFrame:
    """Mergeable rank-sample quantile summary with an EXACT audit —
    the quantile member of the mergeable-summaries family next to
    ``mg_topk`` (Misra-Gries) and ``cms_build`` (count-min): each
    shard keeps every ``step = ceil(n_s/m)``-th element of its sorted
    run together with the exact rank gap ``g`` to the previous kept
    element (a GK-style (value, g) summary, Greenwald & Khanna 2001
    simplified to deterministic equi-spaced sampling so every kept
    element and gap replays in SQL); summaries MERGE by interleaving
    in value order and cumulative-summing the gaps. The merged rank
    estimate under-counts each foreign shard by < its step, so
    ``0 ≤ exact_rank − est_rank ≤ Σ_s (step_s − 1)`` — carried as a
    checked bound column, with the exact rank computed by a
    broadcast-join count (no global sort; the ≤ |probs| chosen
    values stream past the corpus once).

    Shape at scale: one per-shard sort-rank window (the q03
    distributed-rank pattern), a ≤ shards·(m+1)-row merged summary
    (broadcastable — THE point: ship KiBs, answer any quantile),
    and one combinable audit pass. Driver state: the total count
    (one long, the Lloyd-collect contract).

    Returns one row per prob: (p, est_value, target_rank, est_rank,
    exact_rank, err_bound, within_bound).
    """
    from pyspark.sql import Window

    from ..util import shard_hash

    if (m + 1) * shards > _MAX_SUMMARY_ROWS:
        raise ValueError(
            f"rank-sample summary would be (m+1)*shards = "
            f"{(m + 1) * shards} rows; the merged cumsum window runs in "
            f"ONE task, so it is capped at {_MAX_SUMMARY_ROWS} — lower m "
            f"or shards (ADVICE r10 guard)"
        )
    base = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(id_col).cast("long").alias("i"),
    ).where(F.col("v").isNotNull())
    base = base.withColumn("s", shard_hash(F.col("i"), shards))
    wv = Window.partitionBy("s").orderBy(F.col("v").asc(), F.col("i").asc())
    r = base.withColumn("rn", F.row_number().over(wv))
    ns = r.groupBy("s").agg(F.max("rn").cast("long").alias("n_s"))
    r2 = r.join(F.broadcast(ns), "s").withColumn(
        "step", F.floor((F.col("n_s") + m - 1) / m).cast("long"))
    kept = r2.where(
        ((F.col("rn") - 1) % F.col("step") == 0)
        | (F.col("rn") == F.col("n_s"))
    )
    wk = Window.partitionBy("s").orderBy("rn")
    kept = kept.withColumn(
        "g", F.col("rn") - F.coalesce(F.lag("rn").over(wk), F.lit(0)))
    wm = Window.orderBy(F.col("v").asc(), F.col("i").asc()).rowsBetween(
        Window.unboundedPreceding, 0)
    merged = kept.select("v", "i", "g").withColumn(
        "est_rank", F.sum("g").over(wm).cast("long")).persist()
    n_tot = base.count()
    bound = (
        r2.select("s", "step").distinct()
        .agg(F.sum(F.col("step") - 1).cast("long").alias("err_bound"))
    )
    spark = df.sparkSession
    targets = spark.createDataFrame(
        [(float(p),) for p in probs], "p double"
    ).withColumn(
        "target_rank",
        F.ceil(F.col("p") * F.lit(float(n_tot))).cast("long"),
    )
    pick = (
        targets.join(merged, F.col("est_rank") >= F.col("target_rank"))
        .groupBy("p", "target_rank")
        .agg(F.min(F.struct("est_rank", "v", "i")).alias("_k"))
        .select(
            "p", "target_rank",
            F.col("_k.v").alias("est_value"),
            F.col("_k.i").alias("_i"),
            F.col("_k.est_rank").alias("est_rank"),
        )
    )
    exact = (
        base.crossJoin(F.broadcast(pick))
        .where(
            (F.col("v") < F.col("est_value"))
            | ((F.col("v") == F.col("est_value"))
               & (F.col("i") <= F.col("_i")))
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_rank"))
    )
    out = (
        pick.join(exact, "p")
        .crossJoin(F.broadcast(bound))
        .select(
            "p", "est_value", "target_rank", "est_rank", "exact_rank",
            "err_bound",
            (
                (F.col("exact_rank") >= F.col("est_rank"))
                & (F.col("exact_rank") - F.col("est_rank")
                   <= F.col("err_bound"))
            ).alias("within_bound"),
        )
    )
    out._cached_inputs = [merged]
    return out
