"""Statistics operators — the Spark-first re-expression of the
reference's ``describe()`` pattern (sarfile_analyzer_ng
code/dia_compute_pl.py:73, code/layout_helper_pl.py:236 compute polars/
pandas ``describe`` per metric table and per device).

Design: one ``stack`` (unpivot) + one grouped aggregation = a single
shuffle over the long form, instead of N per-column passes. All
expressions are JVM built-ins → whole-stage codegen, no Python in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import rnd


def unpivot(df: DataFrame, id_cols: list[str],
            value_cols: list[str]) -> DataFrame:
    """Wide→long with a single ``stack`` expression (no shuffle) into
    ``metric``/``value`` columns.
    Column names are escaped into the generated SQL (pivoted metric
    names are data-derived and may contain quotes/backticks)."""
    if not value_cols:
        raise ValueError("unpivot needs at least one value column")

    def _q(s: str) -> str:  # string literal
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def _i(s: str) -> str:  # identifier
        return "`" + s.replace("`", "``") + "`"

    pairs = ", ".join(f"{_q(c)}, {_i(c)}" for c in value_cols)
    stack = F.expr(
        f"stack({len(value_cols)}, {pairs}) as (`metric`, `value`)"
    )
    return df.select(*[F.col(c) for c in id_cols], stack)


def describe(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """count/mean/std/min/max per metric column, one row per metric.

    Mirrors polars ``DataFrame.describe`` as used in
    dia_compute_pl.py:73 but distributed: long-form + groupBy →
    map-side partial aggregation, single shuffle keyed on the (tiny)
    metric name.
    """
    long = unpivot(df, [], value_cols)
    return long.groupBy("metric").agg(
        F.count("value").alias("cnt"),
        (F.count(F.lit(1)) - F.count("value")).alias("null_cnt"),
        rnd(F.avg("value"), 4).alias("mean"),
        rnd(F.stddev_samp("value"), 4).alias("stddev"),
        F.round(F.min("value"), 4).alias("min"),
        F.round(F.max("value"), 4).alias("max"),
    )


def percentiles(df: DataFrame, value_col: str, by: list[str],
                probs: tuple[float, ...] = (0.25, 0.5, 0.75)) -> DataFrame:
    """Exact interpolated percentiles per group (polars describe shows
    25/50/75%), quantile_cont semantics — as a fully distributed rank
    with ONE full-data shuffle.

    Spark's ``percentile`` aggregate buffers each group in executor
    memory, and the textbook window-rank version
    (``row_number().over(partitionBy(group).orderBy(v))``) hashes each
    whole group into ONE task — a single 10 TB group serializes, no
    matter how many executors exist. Here the global rank is computed
    without ever materializing a group in one task, and without a
    window operator at all:

    1. range-exchange on (group, value) — groups may SPLIT across
       partitions, so fragment size is bounded by partition size, not
       group size (skew-free by construction) — then sort WITHIN each
       partition (spillable, no exchange);
    2. ``monotonically_increasing_id`` snapshots the sorted in-
       partition row order (contiguous per partition by construction);
    3. one tiny aggregate per (group, fragment) — count + min(id) —
       yields, via a cumulative window over that tiny frame, each
       fragment's global offset and group size; broadcast-join back:
       global rank = (id − fragment min id) + offset + 1;
    4. each rank-(lo|hi) row contributes its interpolation share; a
       map-side-partial groupBy sums them.

    Both branches read the SAME materialization of the sorted frame:
    it is persisted (memory-and-disk) before either consumer derives
    from it, so the partition ids / in-partition row ids the offset
    join is keyed on are frozen once — correctness no longer rides on
    the optimizer's exchange-reuse firing (an AQE property, not a
    contract). The cache is registered on the result as
    ``_cached_inputs`` (see functions.dedup.release); bench and tests
    clear it between queries. Rank assignment among tied rows is
    arbitrary but the rows are identical in (group, value) — shares
    only read the value at ranks lo/hi, so results are deterministic.
    For sketch-grade needs at extreme scale, swap in
    ``percentile_approx`` / the KLL sketch (operators/sketches.py) —
    kept exact here for oracle parity.
    """
    from pyspark.sql import Window

    # quantile_cont ignores NULLs; drop them before ranking so ranks
    # and group sizes cover only real values.
    df = df.where(F.col(value_col).isNotNull())
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    vals = (
        df.select(*by, value_col)
        .repartitionByRange(n_part, *[F.col(c) for c in by], F.col(value_col))
        .sortWithinPartitions(*by, value_col)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist()
    )
    frags = vals.groupBy(*by, "_pid").agg(
        F.count(F.lit(1)).alias("_fc"), F.min("_mid").alias("_fmin")
    )
    w_off = (
        Window.partitionBy(*by)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*by)
    offs = (
        frags.withColumn("_off", F.coalesce(F.sum("_fc").over(w_off), F.lit(0)))
        .withColumn("_n", F.sum("_fc").over(w_grp))
        .drop("_fc")
    )
    # null-SAFE key equality: a NULL group key (sar's no-device
    # sections) must join its own offsets, not silently vanish
    o = offs.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(by)],
        F.col("_pid").alias("_opid"), "_fmin", "_off", "_n",
    )
    cond = [vals["_pid"] == o["_opid"]] + [
        vals[c].eqNullSafe(o[f"_k{i}"]) for i, c in enumerate(by)
    ]
    from functools import reduce as _reduce
    from operator import and_ as _and

    ranked = (
        vals.join(F.broadcast(o), _reduce(_and, cond))
        .drop("_opid", *[f"_k{i}" for i in range(len(by))])
        .withColumn("_rn", F.col("_mid") - F.col("_fmin") + F.col("_off") + 1)
    )
    aggs = []
    for p in probs:
        pos = (F.col("_n") - 1) * F.lit(p) + 1  # 1-based fractional rank
        lo, hi = F.floor(pos), F.ceil(pos)
        frac = pos - lo
        share = (
            F.when(F.col("_rn") == lo, F.col(value_col) * (1 - frac))
            .when(F.col("_rn") == hi, F.col(value_col) * frac)
        )
        aggs.append(
            rnd(F.sum(share), 4)
            .alias("p" + f"{p * 100:g}".replace(".", "_"))
        )
    out = ranked.groupBy(*by).agg(*aggs)
    out._cached_inputs = [vals]  # unpersist via functions.dedup.release
    return out


def minmax_argmax(df: DataFrame, key_cols: list[str], value_col: str,
                  ts_col: str) -> DataFrame:
    """Min/max per group plus the timestamp where the max occurred —
    the distributed form of the reference's min/max cell highlighting
    (helpers_pl.py:320 ``highlight_max_ind``/``highlight_min_ind``).

    Deterministic under ties: the struct max orders by (value, ts), so
    the *latest* timestamp among tied maxima wins on both engines.
    """
    vc, tc = F.col(value_col), F.col(ts_col)
    return df.groupBy(*key_cols).agg(
        F.round(F.min(vc), 4).alias("min_value"),
        F.round(F.max(vc), 4).alias("max_value"),
        F.max(F.struct(vc.alias("v"), tc.alias("t")))["t"].alias("max_at"),
    )


def correlation(df: DataFrame, col_x: str, col_y: str,
                by: list[str]) -> DataFrame:
    """Pearson correlation between two metrics per group — the compare-
    different-metrics page (code/handle_metrics_pl.py) reduced to its
    analytical core."""
    return df.groupBy(*by).agg(
        rnd(F.corr(col_x, col_y), 4).alias("corr_xy"),
        F.count(F.lit(1)).alias("cnt"),
    )


def zscore_outliers(df: DataFrame, value_col: str, by: list[str],
                    threshold: float = 3.0) -> DataFrame:
    """Rows whose |value - mean| > threshold * stddev within their
    group. Two-pass as a self-broadcast join: the per-group stats frame
    is tiny (one row per group) and broadcast, so the fact table is
    scanned once with no wide shuffle."""
    from functools import reduce as _reduce
    from operator import and_ as _and

    stats = df.groupBy(*by).agg(
        F.avg(value_col).alias("_mean"), F.stddev_samp(value_col).alias("_std")
    )
    # null-safe key join: rows whose group key is NULL keep their group
    s = stats.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(by)],
        "_mean", "_std",
    )
    cond = _reduce(
        _and, [df[c].eqNullSafe(s[f"_k{i}"]) for i, c in enumerate(by)]
    )
    joined = df.join(F.broadcast(s), cond).drop(
        *[f"_k{i}" for i in range(len(by))]
    )
    z = (F.col(value_col) - F.col("_mean")) / F.col("_std")
    return (
        joined.where(F.abs(z) > threshold)
        .withColumn("zscore", rnd(z, 4))
        .drop("_mean", "_std")
    )


def mad_outliers(df: DataFrame, value_col: str, by: list[str],
                 threshold: float = 3.5) -> DataFrame:
    """Robust outliers by modified z-score (Iglewicz & Hoaglin 1993):
    ``0.6745 · (v − median) / MAD`` with MAD = median absolute
    deviation — the monitoring-grade complement of
    :func:`zscore_outliers`, whose mean/stddev are themselves dragged
    by the outliers they're hunting (one 100× CPU spike inflates σ
    enough to hide the 10× ones; the median doesn't move).

    Both medians are EXACT distributed percentiles (:func:`percentiles`
    — range-exchange rank, no single-task group), rounded at
    4 digits so the flag boundary is engine-stable; deviations are
    derived from the rounded medians with identical scalar arithmetic.
    Groups with MAD = 0 (over half the samples identical) flag nothing
    — the standard convention, guarded identically in both engines.

    Shape at scale: two percentile passes (each one range-exchange) +
    two broadcast joins of the one-row-per-group stats — the fact
    table never wide-shuffles.
    """
    med = percentiles(df, value_col, by, probs=(0.5,))
    med = med.select(*by, F.col("p50").alias("_med"))
    with_dev = df.join(F.broadcast(med), by).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = percentiles(with_dev, "_adev", by, probs=(0.5,))
    mad = mad.select(*by, F.col("p50").alias("_mad"))
    scored = with_dev.join(F.broadcast(mad), by).withColumn(
        "robust_z",
        rnd(
            F.lit(0.6745) * (F.col(value_col) - F.col("_med"))
            / F.col("_mad"),
            4,
        ),
    )
    out = scored.where(
        (F.col("_mad") > 0) & (F.abs(F.col("robust_z")) > threshold)
    ).drop("_adev")
    caches = getattr(med, "_cached_inputs", []) + getattr(
        mad, "_cached_inputs", []
    )
    out._cached_inputs = caches
    return out


def moments_merge(old: DataFrame, new: DataFrame, value_col: str,
                  by: list[str]) -> DataFrame:
    """Incremental corpus statistics: merge per-partition moment
    summaries into exact combined mean/variance WITHOUT rescanning the
    old data — Chan et al. 1979's parallel-variance merge, the update
    path a 100 TB warehouse runs when a new ingest batch lands (re-
    aggregating the historical corpus per batch is the anti-pattern).

    Each side reduces to (n, mean, mean-of-squares) per group — THREE
    scalars, the summary that persists as corpus metadata (the q121
    signature-persistence contract applied to statistics). The merge
    is pure scalar arithmetic on the 8-digit-rounded part summaries:
    ``M2 = M2a + M2b + δ²·na·nb/n`` with ``M2 = (q − m²)·n``, so both
    engines derive identical doubles. AVERAGES not sums, keeping the
    rounded magnitudes in the rnd parity domain at any corpus size.

    A group present on only one side passes its summary through (the
    δ-term is defined with the other side's n = 0).
    """
    def summarize(df: DataFrame, tag: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        return df.groupBy(*by).agg(
            F.count(F.lit(1)).cast("double").alias(f"n_{tag}"),
            rnd(F.avg(v), 8).alias(f"m_{tag}"),
            rnd(F.avg(v * v), 8).alias(f"q_{tag}"),
        )

    a = summarize(old, "a")
    b = summarize(new, "b")
    j = a.join(b, by, "full_outer").na.fill(
        {"n_a": 0.0, "m_a": 0.0, "q_a": 0.0,
         "n_b": 0.0, "m_b": 0.0, "q_b": 0.0}
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    m2a = (F.col("q_a") - F.col("m_a") * F.col("m_a")) * na
    m2b = (F.col("q_b") - F.col("m_b") * F.col("m_b")) * nb
    delta = F.col("m_b") - F.col("m_a")
    mean = (na * F.col("m_a") + nb * F.col("m_b")) / n
    m2 = m2a + m2b + delta * delta * na * nb / n
    var_samp = F.when(n > 1, m2 / (n - F.lit(1.0))).otherwise(F.lit(0.0))
    return j.select(
        *by,
        na.cast("long").alias("n_old"),
        nb.cast("long").alias("n_new"),
        n.cast("long").alias("n_total"),
        rnd(mean, 4).alias("mean_merged"),
        rnd(var_samp, 4).alias("var_merged"),
    )


def ks_two_sample(a: DataFrame, b: DataFrame, value_col: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic D = max_v |ECDF_a(v) −
    ECDF_b(v)| — the distribution-drift gate between a corpus
    snapshot and an arriving batch ("does the new crawl's length
    profile even look like the old one?"), complementing identity
    diffs (what changed) with a shape answer (how differently it is
    distributed).

    Scalable by construction: both samples reduce to ONE shared
    distinct-value frame with per-side counts (bounded by the value
    DOMAIN, not the corpus — discrete metrics like word counts have
    thousands of distinct values at any corpus size), the two ECDFs
    accumulate over that frame, and D is one max. No corpus-wide
    sort, no single-task group. ECDF fractions pre-round at 8 digits
    (counts are exact integers; only the division is float), D
    rounds at 6 digits.

    Returns one row: (n_old, n_new, ks_d).
    """
    from pyspark.sql import Window

    from ..util import rnd

    va = a.select(F.col(value_col).alias("_v"), F.lit(1).alias("_ca"),
                  F.lit(0).alias("_cb"))
    vb = b.select(F.col(value_col).alias("_v"), F.lit(0).alias("_ca"),
                  F.lit(1).alias("_cb"))
    vals = (
        va.unionByName(vb)
        .groupBy("_v")
        .agg(F.sum("_ca").cast("long").alias("_na"),
             F.sum("_cb").cast("long").alias("_nb"))
    )
    tot = vals.agg(
        F.sum("_na").cast("double").alias("_ta"),
        F.sum("_nb").cast("double").alias("_tb"),
    )
    # the cumulative window runs over the DISTINCT-value frame —
    # domain-bounded (thousands of rows), so one partition is the
    # honest, documented shape (the q64/q93 model-frame convention)
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    ecdf = vals.crossJoin(F.broadcast(tot)).select(
        "_v",
        rnd(F.sum("_na").over(w) / F.col("_ta"), 8).alias("_fa"),
        rnd(F.sum("_nb").over(w) / F.col("_tb"), 8).alias("_fb"),
        "_ta", "_tb",
    )
    return ecdf.groupBy("_ta", "_tb").agg(
        rnd(F.max(F.abs(F.col("_fa") - F.col("_fb"))), 6)
        .alias("ks_d")
    ).select(
        F.col("_ta").cast("long").alias("n_old"),
        F.col("_tb").cast("long").alias("n_new"),
        "ks_d",
    )


def winsorized_stats(df: DataFrame, value_col: str, by: list[str],
                     lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Winsorized per-group moments: clamp values at the group's
    exact (lo, hi) percentiles, then take mean/stddev — the robust
    location/scale estimate that, unlike trimming or MAD (q140),
    keeps every row's vote while bounding any single row's leverage
    (a 10 GB pathological document moves the winsorized mean by one
    clamp width, not by its full length).

    Two passes: the group percentiles come from :func:`percentiles`
    (the skew-free distributed-rank machinery — no per-group
    buffering), broadcast back onto the facts, then ONE combinable
    agg over the clamped column. Clamping uses the already-rounded
    percentile values, so both engines clamp identically; moments
    round at 4 digits. The raw mean rides along for the
    "how much did the tail move me" delta.
    """
    pct = percentiles(df, value_col, by, probs=(lo, hi))
    lo_c = "p" + f"{lo * 100:g}".replace(".", "_")
    hi_c = "p" + f"{hi * 100:g}".replace(".", "_")
    j = df.select(*by, value_col).join(F.broadcast(pct), by)
    xw = F.least(
        F.greatest(F.col(value_col).cast("double"), F.col(lo_c)),
        F.col(hi_c),
    )
    out = j.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(lo_c).alias(lo_c),
        F.max(hi_c).alias(hi_c),
        rnd(F.avg(F.col(value_col).cast("double")), 4)
        .alias("raw_mean"),
        rnd(F.avg(xw), 4).alias("win_mean"),
        rnd(F.stddev_pop(xw), 4).alias("win_std"),
    )
    out._cached_inputs = getattr(pct, "_cached_inputs", [])
    return out
