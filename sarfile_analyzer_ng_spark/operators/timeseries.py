"""Time-series operators.

The reference treats every sar section as a timestamp-indexed frame and
offers: time-range slicing (pl_helpers2.py:206 ``get_date_df``,
helpers_pl.py:410 ``get_df_from_start_end``), duplicate-timestamp
removal keep-first (dia_compute_pl.py:148), restart-row insertion
(dataframe_funcs_pl.py:50 ``insert_restarts_into_df``), and hourly
bucketing for the UI time pickers (dataframe_funcs_pl.py:39).

Here each becomes a declarative plan: filters push down to the parquet
scan, windows partition by the series key so state never concentrates
on one executor, and nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import rnd


def time_filter(df: DataFrame, ts_col: str, start, end) -> DataFrame:
    """Inclusive [start, end] slice; the predicate reaches the parquet
    scan (PushedFilters) so untouched row groups are skipped."""
    return df.where((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) <= F.lit(end)))


def dedup_keep_first(df: DataFrame, key_cols: list[str],
                     order_cols: list[str]) -> DataFrame:
    """Keep the first row per key, ordered by ``order_cols`` — the
    distributed, deterministic form of pandas
    ``df[~df.index.duplicated(keep='first')]`` (dia_compute_pl.py:149).
    Single shuffle on the key; no global sort.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def resample(df: DataFrame, ts_col: str, every: str, by: list[str],
             aggs: list[Column]) -> DataFrame:
    """Bucket timestamps to ``every`` ('hour', 'day', ...) and
    aggregate — the engine form of the UI's hourly pickers and chart
    downsampling. ``date_trunc`` keeps bucketing JVM-side."""
    bucket = F.date_trunc(every, F.col(ts_col)).alias("bucket")
    return df.groupBy(bucket, *by).agg(*aggs)


def rolling_mean(df: DataFrame, ts_col: str, value_col: str, by: list[str],
                 preceding: int) -> DataFrame:
    """Moving average over the last ``preceding``+1 rows per series —
    chart smoothing as a window aggregate (state stays partitioned by
    series key)."""
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_col)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn("rolling_mean", rnd(F.avg(value_col).over(w), 4))


def running_sum(df: DataFrame, ts_col: str, value_col: str,
                by: list[str]) -> DataFrame:
    """Cumulative total per series (sar counters are cumulative by
    nature; the reference renders their deltas/averages)."""
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("running_sum", rnd(F.sum(value_col).over(w), 4))


def insert_restarts(df: DataFrame, restarts: DataFrame, ts_col: str,
                    zero_cols: list[str]) -> DataFrame:
    """Union zero-valued marker rows at each restart timestamp so a
    chart line drops to 0 — dataframe_funcs_pl.py:50 re-expressed as a
    UNION ALL (no driver-side row building, restart side stays lazy).

    ``restarts`` needs only ``ts_col``; all ``zero_cols`` become 0.0 and
    ``is_restart`` flags the synthetic rows.
    """
    base = df.select(
        F.col(ts_col), *[F.col(c) for c in zero_cols], F.lit(False).alias("is_restart")
    )
    zeros = restarts.select(
        F.col(ts_col),
        *[F.lit(0.0).alias(c) for c in zero_cols],
        F.lit(True).alias("is_restart"),
    )
    return base.unionByName(zeros)


def detect_gaps(df: DataFrame, ts_col: str, by: list[str],
                min_gap_seconds: int) -> DataFrame:
    """Find sampling gaps larger than ``min_gap_seconds`` per series —
    the analytical core of LINUX RESTART detection (a reboot shows up
    as a hole in the sampling grid)."""
    w = Window.partitionBy(*by).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    gap = F.col(ts_col).cast("long") - prev.cast("long")
    return (
        df.withColumn("prev_ts", prev)
        .withColumn("gap_seconds", gap)
        .where(F.col("gap_seconds") > min_gap_seconds)
        .select(*by, "prev_ts", F.col(ts_col).alias("ts"), "gap_seconds")
    )


def sessionize(df: DataFrame, ts_col: str, by: list[str],
               gap_seconds: int) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the previous event is more than ``gap_seconds`` older. Classic
    lag + cumulative-sum-of-boundaries; one shuffle on the key."""
    w = Window.partitionBy(*by).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.col(ts_col).cast("long") - prev.cast("long")) > gap_seconds),
        1,
    ).otherwise(0)
    cum = Window.partitionBy(*by).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(new_sess).over(cum))


def asof_join(left: DataFrame, right: DataFrame, on: list[str], ts_col: str,
              right_value_cols: list[str],
              suffix: str = "_right") -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` within the same key — aligning samples of
    one sar section to another without a grid.

    Implementation: union both sides with a side marker, then a single
    window pass per key ordered by (ts, side) carries the last right
    ROW forward as one struct — row-atomic, so a right row whose value
    is genuinely NULL is returned as-is (per-column ignorenulls fills
    would skip it and stitch together values from DIFFERENT right
    timestamps). One shuffle, no range explosion, scales with the
    number of rows per key rather than pairs. The right side must be
    unique per (key, ts); pre-aggregate it if not.
    """
    lcols = left.columns
    l = left.select(*lcols, F.lit(1).alias("_side"),
                    *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
                      for c in right_value_cols])
    r = right.select(
        *[F.col(c) for c in on], F.col(ts_col),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in on and c != ts_col],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols],
    ).select(*lcols, "_side", *[f"{c}{suffix}" for c in right_value_cols])
    unioned = l.unionByName(r)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    payload = F.when(
        F.col("_side") == 0,
        F.struct(
            F.col(ts_col).alias("_ts"),
            *[F.col(f"{c}{suffix}").alias(c) for c in right_value_cols],
        ),
    )
    filled = unioned.select(
        *lcols, "_side",
        F.last(payload, ignorenulls=True).over(w).alias("_r"),
    )
    return (
        filled.where(F.col("_side") == 1)
        .select(
            *lcols,
            *[
                F.col(f"_r.{c}").alias(f"{c}{suffix}")
                for c in right_value_cols
            ],
            F.col("_r._ts").alias(f"{ts_col}{suffix}"),
        )
    )


def delta_rate(df: DataFrame, ts_col: str, value_col: str,
               by: list[str]) -> DataFrame:
    """Counter→rate conversion: per-second rate between consecutive
    samples of a series — how sysstat itself derives every ``.../s``
    metric from kernel counters. ``lag`` window per series key; first
    sample of a series has no rate (null)."""
    w = Window.partitionBy(*by).orderBy(ts_col)
    prev_v = F.lag(value_col).over(w)
    prev_t = F.lag(ts_col).over(w)
    dt = F.col(ts_col).cast("long") - prev_t.cast("long")
    rate = F.when(dt > 0, (F.col(value_col) - prev_v) / dt)
    return df.withColumn("rate", rnd(rate, 4))


def resample_filled(df: DataFrame, ts_col: str, every_seconds: int,
                    by: list[str], value_col: str,
                    max_buckets: int = 1_000_000) -> DataFrame:
    """Gap-filled resample: aggregate into fixed buckets AND emit
    zero-count rows for empty buckets, so downstream charts/windows see
    a complete grid (a chart gap is how the reference surfaces
    reboots — here the grid is explicit).

    The bucket grid is generated per series key from its own min/max
    (sequence + explode — a few rows per series), then left-joined
    with the real aggregates. No driver-side date math.
    ``max_buckets`` guards the grid: ONE mis-dated sample (the sources
    default unknown dates to 2000-01-01) would otherwise explode a
    multi-decade `sequence` into one task's memory — a group whose
    span exceeds the cap raises instead of OOMing the executor.
    """
    bucket = (
        F.floor(F.col(ts_col).cast("long") / every_seconds) * every_seconds
    ).cast("timestamp")
    aggs = df.groupBy(*by, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(F.sum(value_col), 4).alias("sum_value"),
    )
    spans = df.groupBy(*by).agg(
        F.min(F.col(ts_col).cast("long")).alias("_lo"),
        F.max(F.col(ts_col).cast("long")).alias("_hi"),
    )
    n_buckets = (F.col("_hi") - F.col("_lo")) / F.lit(every_seconds)
    guarded_lo = F.when(
        n_buckets <= max_buckets,
        F.floor(F.col("_lo") / every_seconds) * every_seconds,
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"resample_filled: grid exceeds max_buckets="
                    f"{max_buckets} ("
                ),
                n_buckets.cast("long").cast("string"),
                F.lit(" buckets) — check for mis-dated samples"),
            )
        )
    )
    grid = spans.select(
        *by,
        F.explode(
            F.sequence(
                guarded_lo,
                (F.floor(F.col("_hi") / every_seconds) * every_seconds),
                F.lit(every_seconds),
            )
        ).alias("_b"),
    ).select(*by, F.col("_b").cast("timestamp").alias("bucket"))
    return (
        grid.join(aggs, on=[*by, "bucket"], how="left")
        .select(
            *by, "bucket",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
    )


def top_n_per_group(df: DataFrame, by: list[str], order_cols, n: int) -> DataFrame:
    """Top-N rows per group (vs relational.top_k's global top-k):
    window rank with deterministic tie-break, one shuffle on the group
    key, no global sort."""
    w = Window.partitionBy(*by).orderBy(*order_cols)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w).cast("long"))
        .where(F.col("rank_in_group") <= n)
    )


def overlay_align(df: DataFrame, ts_col: str, by: list[str]) -> DataFrame:
    """Rebase each group's timestamps onto one shared day axis,
    preserving time-of-day — the Spark form of the reference's
    ``replace_ymt`` (dataframe_funcs_pl.py:81), which swaps the
    year/month/day of the comparison range for each file's own first
    day so sar files recorded on different days overlay on a single
    time axis (the multi-file compare flow, multi_files_pl.py).

    Per group (file), subtract the midnight of its FIRST day:
    ``aligned = epoch + (ts − date_trunc('day', min ts))`` — day one
    of every file lands on 1970-01-01 with its time-of-day intact,
    and multi-day files keep their day offsets (day two → Jan 2).

    The per-group anchor frame is one row per group — broadcast back,
    so the fact table is scanned once with no wide shuffle; the
    arithmetic is pure JVM timestamp math.
    """
    from functools import reduce as _reduce
    from operator import and_ as _and

    anchors = df.groupBy(*by).agg(
        F.unix_micros(F.date_trunc("DAY", F.min(ts_col))).alias("_day0_us")
    )
    # null-safe key join: groups keyed by NULL (sar's no-device
    # sections) must still align instead of dropping out
    a = anchors.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(by)], "_day0_us"
    )
    cond = _reduce(
        _and, [df[c].eqNullSafe(a[f"_k{i}"]) for i, c in enumerate(by)]
    )
    return (
        df.join(F.broadcast(a), cond)
        .drop(*[f"_k{i}" for i in range(len(by))])
        .withColumn(
            "ts_aligned",
            F.timestamp_micros(F.unix_micros(F.col(ts_col)) - F.col("_day0_us")),
        )
        .drop("_day0_us")
    )


# |z| against the row's own (series, hour) baseline that flags it
SEASON_Z_TAU = 3.0


def seasonal_outliers(df: DataFrame, ts_col: str, value_col: str,
                      by: list[str]) -> DataFrame:
    """Hour-of-day seasonal anomaly detection — the server-metrics
    question the reference's charts answer by eye ("is this 3am CPU
    spike normal FOR 3am?"): a global z-score (stats.zscore_outliers)
    washes out daily periodicity, so the baseline here is per
    (series, hour-of-day) — mean and stddev of every sample that
    shares the clock hour — and a row flags when it deviates from its
    OWN hour's norm.

    Scale shape: the baseline frame is |series|×24 rows — broadcast;
    the fact table scans once with no wide shuffle (the
    zscore_outliers two-pass pattern, seasonally keyed).
    """
    return seasonal_score(
        df, seasonal_baseline(df, ts_col, value_col, by),
        ts_col, value_col, by,
    )


def seasonal_baseline(df: DataFrame, ts_col: str, value_col: str,
                      by: list[str]) -> DataFrame:
    """The (series, hour-of-day) mean/stddev baseline frame — train it
    on history once, freeze it, and :func:`seasonal_score` new samples
    against it."""
    hr = F.hour(F.col(ts_col))
    return df.groupBy(*by, hr.alias("_hr")).agg(
        F.avg(value_col).alias("_mean"),
        F.stddev_samp(value_col).alias("_std"),
    )


def seasonal_score(df: DataFrame, baseline: DataFrame, ts_col: str,
                   value_col: str, by: list[str]) -> DataFrame:
    """Score rows against a FROZEN seasonal baseline — a stateless
    broadcast join + filter keeping ``|z| > SEASON_Z_TAU``."""
    from functools import reduce as _reduce
    from operator import and_ as _and

    from ..util import rnd

    hr = F.hour(F.col(ts_col))
    s = baseline.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(by)],
        "_hr", "_mean", "_std",
    )
    cond = _reduce(
        _and,
        [df[c].eqNullSafe(s[f"_k{i}"]) for i, c in enumerate(by)]
        + [hr == s["_hr"]],
    )
    joined = df.join(F.broadcast(s), cond).drop(
        *[f"_k{i}" for i in range(len(by))]
    )
    z = (F.col(value_col) - F.col("_mean")) / F.col("_std")
    return (
        joined.where(F.abs(z) > SEASON_Z_TAU)
        .withColumn("season_z", rnd(z, 4))
        .withColumn("hour", F.col("_hr").cast("long"))
        .drop("_mean", "_std", "_hr")
    )


# ewma_smooth's smoothing factor α and truncation window W in samples
EWMA_ALPHA, EWMA_WINDOW = 0.3, 16


def ewma_smooth(df: DataFrame, ts_col: str, value_col: str, by: list[str],
                order_tiebreak: list[str] | None = None) -> DataFrame:
    """Truncated exponentially-weighted moving average + one-step-ahead
    forecast per series — the EWMA control chart (Roberts 1959; NIST
    §6.3.2.4) the sar world uses for "is THIS sample off its recent
    trend?", complementing :func:`seasonal_outliers`' hour-of-week
    baseline (which answers "off its WEEKLY pattern?").

    The classic recursion ``s_t = α·x_t + (1−α)·s_{t−1}`` is a
    sequential scan — hostile to both distributed evaluation and
    cross-engine value parity (every engine associates the float
    recursion differently). The TRUNCATED form is the standard fix
    (pandas ``ewm(adjust=True)``): weights below ``(1−α)^W`` are
    numerically irrelevant (α=0.3, W=16 → 0.3%), so

        ``ewma_t = Σ_{j<W} (1−α)^j·x_{t−j} / Σ_{j<W} (1−α)^j``

    over the AVAILABLE lags becomes a fixed-shape lag-window
    expression: W ``lag`` calls over one (series, time) window, the
    weight ladder riding as plan literals from the SAME python floats
    the oracle repr()'s — both engines evaluate an identical
    expression tree, so the values are bit-equal before the rnd
    ladder even applies.

    ``forecast`` is the same weighted mean over lags 1..W (the value
    EXCLUDED) — the one-step-ahead prediction; ``resid`` is the
    forecast error, the control-chart alarm input. NULL at each
    series head (nothing to predict from).

    Shape at scale: ONE shuffle keyed by the series id (the window
    partition), W lag expressions inside whole-stage codegen, no
    self-joins, no Python, no state beyond the window frame.
    """
    w = Window.partitionBy(*by).orderBy(
        ts_col, *(order_tiebreak or [])
    )
    # one extra lag so the forecast's re-anchored ladder spans the
    # SAME W samples as the previous row's ewma: forecast_t == ewma_{t-1}
    lag_chain = [F.lag(value_col, j).over(w)
                 for j in range(1, EWMA_WINDOW + 1)]
    lags = [F.col(value_col)] + lag_chain[: EWMA_WINDOW - 1]
    wts = [(1.0 - EWMA_ALPHA) ** j for j in range(EWMA_WINDOW)]

    def wmean(terms):
        num = sum(
            (
                F.when(c.isNotNull(), F.lit(wt) * c).otherwise(F.lit(0.0))
                for wt, c in terms
            ),
            F.lit(0.0),
        )
        den = sum(
            (
                F.when(c.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
                for wt, c in terms
            ),
            F.lit(0.0),
        )
        return num, den

    num_s, den_s = wmean(list(zip(wts, lags)))
    num_f, den_f = wmean(list(zip(wts, lag_chain)))
    ewma = rnd(num_s / den_s, 4)
    forecast = F.when(den_f > 0, rnd(num_f / den_f, 4))
    return df.select(
        *by, ts_col, *(order_tiebreak or []), F.col(value_col),
        ewma.alias("ewma"),
        forecast.alias("forecast"),
        F.when(
            den_f > 0, rnd(F.col(value_col) - (num_f / den_f), 4)
        ).alias("resid"),
    )


def trend_fit(df: DataFrame, ts_col: str, value_col: str,
              by: list[str]) -> DataFrame:
    """Per-series OLS linear trend: slope (value units per DAY),
    intercept, and R² of ``value`` against time — "which disk is
    trending toward full / which error rate is drifting up", the
    capacity-planning view the reference's charts let a human eyeball
    (code/dia_compute_pl.py renders the series; this fits it).

    NOT ``regr_slope``: each engine's fused regression aggregate sums
    in its own order, and the covariance/variance division amplifies
    the ulp — instead the five MOMENTS (avg x, avg y, avg xy, avg x²,
    avg y²) are pre-rounded on the 8-digit rnd ladder, then
    slope/intercept/R² are derived from the rounded moments with
    identical scalar arithmetic in both engines. Averages (not sums)
    so the rounded magnitudes stay inside the rnd parity domain
    (util.RND_PARITY_MAX_SCALED) at ANY corpus size.

    Time axis: whole seconds (``unix_timestamp`` ≡ DuckDB
    ``floor(epoch(ts))`` — the q21 convention), centered per series
    by the window MIN (exact, no arithmetic) and scaled to days, so
    x² can't blow up the moments on long time ranges. Zero-variance
    guards: a single-sample / constant-time series reports slope 0,
    a constant-value series R² 0 (both engine-identical).

    Shape at scale: one series-keyed window (min) + one agg on the
    SAME key — Catalyst reuses the partitioning, so one shuffle
    total; output is |series| rows.
    """
    w = Window.partitionBy(*by)
    xsec = F.unix_timestamp(F.col(ts_col))
    x = (xsec - F.min(xsec).over(w)).cast("double") / F.lit(86400.0)
    y = F.col(value_col).cast("double")
    m = (
        df.select(*by, x.alias("_x"), y.alias("_y"))
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            rnd(F.avg("_x"), 8).alias("mx"),
            rnd(F.avg("_y"), 8).alias("my"),
            rnd(F.avg(F.col("_x") * F.col("_y")), 8).alias("mxy"),
            rnd(F.avg(F.col("_x") * F.col("_x")), 8).alias("mx2"),
            rnd(F.avg(F.col("_y") * F.col("_y")), 8).alias("my2"),
        )
    )
    varx = F.col("mx2") - F.col("mx") * F.col("mx")
    vary = F.col("my2") - F.col("my") * F.col("my")
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    slope = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    intercept = F.col("my") - slope * F.col("mx")
    r2 = F.when(
        (varx > 0) & (vary > 0), (cov / varx) * (cov / vary)
    ).otherwise(F.lit(0.0))
    return m.select(
        *by,
        "n_samples",
        rnd(slope, 6).alias("slope_per_day"),
        rnd(intercept, 6).alias("intercept"),
        rnd(r2, 6).alias("r2"),
    )


# shortest run threshold_runs keeps, in samples
RUN_MIN = 3


def threshold_runs(df: DataFrame, ts_col: str, value_col: str,
                   by: list[str], threshold: float,
                   tiebreak: str | None = None) -> DataFrame:
    """Sustained-saturation detection: maximal runs of CONSECUTIVE
    samples above ``threshold`` per series, keeping runs of ≥
    ``RUN_MIN`` samples — "the disk was pegged for 40 straight
    minutes", which a point filter (q20-style) can't distinguish from
    40 scattered spikes. The classic gaps-and-islands shape: island
    id = global row_number − row_number among hot rows (both over the
    same (ts, tiebreak) order, so ties can't split an island).

    Shape at scale: two rank windows sharing one series-keyed
    exchange + one island-keyed agg; output is |runs| rows.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w_all = Window.partitionBy(*by).orderBy(*order)
    hot = (
        df.withColumn("_rn", F.row_number().over(w_all))
        .where(F.col(value_col) > threshold)
    )
    w_hot = Window.partitionBy(*by).orderBy("_rn")
    runs = (
        hot.withColumn("_grp", F.col("_rn") - F.row_number().over(w_hot))
        .groupBy(*by, "_grp")
        .agg(
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.max(value_col).alias("peak_value"),
        )
        .where(F.col("n_samples") >= RUN_MIN)
        .drop("_grp")
    )
    return runs


# cusum_alarms' slack and alarm threshold, in series σ
CUSUM_SLACK, CUSUM_H = 0.5, 4.0


def cusum_alarms(df: DataFrame, ts_col: str, value_col: str,
                 by: list[str],
                 tiebreak: str | None = None) -> DataFrame:
    """One-sided CUSUM drift detection (Page 1954): alarm when the
    cumulative excess over ``mean + slack·σ`` exceeds ``h·σ`` — the
    sequential test that catches a SMALL persistent shift long before
    any per-sample threshold fires (each sample is individually
    unremarkable; their cumulative sum is not). The recursion
    ``S_t = max(0, S_{t−1} + dev_t)`` is rewritten in its closed
    prefix form ``S_t = cum_t − min_{i≤t}(cum_i, 0)`` — two windows,
    fully declarative, no stateful recursion.

    Determinism: per-series mean/σ are rounded scalars; each deviation
    term pre-rounds at 8; the running sum re-rounds at 4 digits
    BEFORE the prefix-min window, so both engines take mins over
    identical values regardless of how their window aggregation trees
    associate the float sums (the q24 running-sum contract).

    Shape at scale: one broadcast stats join + two windows sharing
    the series-keyed exchange. Alarm rows only leave the shuffle.
    """
    stats = df.groupBy(*by).agg(
        rnd(F.avg(value_col), 4).alias("_mu"),
        rnd(F.stddev_samp(value_col), 4).alias("_sd"),
    )
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w_cum = (
        Window.partitionBy(*by).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = rnd(
        F.col(value_col) - F.col("_mu")
        - F.lit(CUSUM_SLACK) * F.col("_sd"),
        8,
    )
    cummed = (
        df.join(F.broadcast(stats), by)
        .withColumn("_cum", rnd(F.sum(dev).over(w_cum), 4))
    )
    w_min = (
        Window.partitionBy(*by).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = cummed.withColumn(
        "cusum",
        rnd(
            F.col("_cum")
            - F.least(F.lit(0.0), F.min("_cum").over(w_min)),
            4,
        ),
    )
    return scored.where(
        F.col("cusum") > rnd(F.lit(CUSUM_H) * F.col("_sd"),
                             4)
    ).drop("_mu", "_sd", "_cum")


def capacity_forecast(df: DataFrame, ts_col: str, value_col: str,
                      by: list[str], limit: float) -> DataFrame:
    """Time-to-threshold forecast: per series, extrapolate the
    :func:`trend_fit` OLS line to the point it crosses ``limit`` —
    "this filesystem fills in 12 days", the question the reference's
    trend charts (code/dia_compute_pl.py renders the raw series)
    leave the operator to answer by eye.

    Built on the SAME rounded-moment contract as trend_fit: the five
    moments are pre-rounded on the 8-digit rnd ladder, then slope /
    intercept / the fitted value at the series' LAST sample derive
    from them with identical scalar IEEE arithmetic in both engines.
    ``days_to_limit`` divides the ROUNDED headroom by the ROUNDED
    slope so the quotient's operands are engine-identical bit
    patterns.  Status taxonomy: ``breached`` (fitted value already ≥
    limit), ``rising`` (positive slope, will cross), ``flat``
    (non-positive slope — never crosses, days_to_limit NULL).

    Shape at scale: one series-keyed window (min, exact) + one agg on
    the same key — Catalyst reuses the exchange, one shuffle total;
    output is |series| rows.  The time axis is centered per series
    and expressed in days so the x-moments stay inside the rnd parity
    domain on any time range (util.RND_PARITY_MAX_SCALED).
    """
    w = Window.partitionBy(*by)
    xsec = F.unix_timestamp(F.col(ts_col))
    x = (xsec - F.min(xsec).over(w)).cast("double") / F.lit(86400.0)
    y = F.col(value_col).cast("double")
    m = (
        df.select(*by, x.alias("_x"), y.alias("_y"))
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            rnd(F.avg("_x"), 8).alias("mx"),
            rnd(F.avg("_y"), 8).alias("my"),
            rnd(F.avg(F.col("_x") * F.col("_y")), 8).alias("mxy"),
            rnd(F.avg(F.col("_x") * F.col("_x")), 8).alias("mx2"),
            # per-row doubles are engine-identical (integer seconds /
            # the same literal), and max is arithmetic-free — exact
            F.max("_x").alias("_xmax"),
        )
    )
    varx = F.col("mx2") - F.col("mx") * F.col("mx")
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    slope = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    fit_now = (F.col("my") - slope * F.col("mx")) + slope * F.col("_xmax")
    lim = F.lit(float(limit))
    scored = m.select(
        *by,
        "n_samples",
        rnd(slope, 6).alias("slope_per_day"),
        rnd(fit_now, 6).alias("fit_now"),
    )
    rising = (F.col("fit_now") < lim) & (F.col("slope_per_day") > 0)
    return scored.select(
        *by,
        "n_samples",
        "slope_per_day",
        "fit_now",
        F.when(rising, rnd((lim - F.col("fit_now"))
                           / F.col("slope_per_day"), 4))
         .otherwise(F.lit(None).cast("double")).alias("days_to_limit"),
        F.when(F.col("fit_now") >= lim, F.lit("breached"))
         .when(F.col("slope_per_day") > 0, F.lit("rising"))
         .otherwise(F.lit("flat")).alias("status"),
    )


def lag_correlation(df: DataFrame, ts_col: str, value_col: str,
                    series_col: str, series_a: str, series_b: str,
                    max_lag: int = 6) -> DataFrame:
    """Lead/lag cross-correlation between two metric series:
    corr(A(t), B(t − k·bucket)) for k = 0..max_lag — "does I/O wait
    lead CPU steal by two hours?", the causal-direction question the
    reference's overlay charts (multi_files_pl.py stacks the series
    visually) leave to the eye.

    Both series first resample to a shared hourly bucket grid
    (mean per bucket, pre-rounded at 8 digits), so the join key is
    exact BIGINT arithmetic: A.bucket − k·3600 = B.bucket.
    The per-lag correlation derives from rnd-ladder moments exactly
    like :func:`trend_fit` (sqrt is IEEE-exact, so corr's operands
    are engine-identical).  Lags with < 2 grid pairs or a
    zero-variance side report NULL corr rather than a fabricated 0.

    Shape at scale: ONE bucket-keyed agg over the fact table (the
    only full-data shuffle); the lag fan-out explodes a literal
    (max_lag+1)-element array against the |days·24|-row GRID, not
    the facts, and the self-join is an equi-join on the bucket int.
    Output is max_lag+1 rows.
    """
    bsec = F.lit(3600)
    grid = (
        df.where(F.col(series_col).isin([series_a, series_b]))
        .groupBy(
            series_col,
            (F.floor(F.unix_timestamp(F.col(ts_col)) / bsec)
             .cast("long") * bsec).alias("_bucket"),
        )
        .agg(rnd(F.avg(F.col(value_col).cast("double")), 8).alias("_v"))
    )
    a = grid.where(F.col(series_col) == series_a).select(
        F.col("_bucket").alias("_ab"), F.col("_v").alias("_av"))
    b = grid.where(F.col(series_col) == series_b).select(
        F.col("_bucket").alias("_bb"), F.col("_v").alias("_bv"))
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(int(max_lag) + 1)])
    ).alias("lag")
    pairs = (
        a.select("*", lags)
        .join(b, F.col("_ab") - F.col("lag") * bsec == F.col("_bb"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        rnd(F.avg("_av"), 8).alias("mx"),
        rnd(F.avg("_bv"), 8).alias("my"),
        rnd(F.avg(F.col("_av") * F.col("_bv")), 8).alias("mxy"),
        rnd(F.avg(F.col("_av") * F.col("_av")), 8).alias("mx2"),
        rnd(F.avg(F.col("_bv") * F.col("_bv")), 8).alias("my2"),
    )
    varx = F.col("mx2") - F.col("mx") * F.col("mx")
    vary = F.col("my2") - F.col("my") * F.col("my")
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    ok = (F.col("n_pairs") >= 2) & (varx > 0) & (vary > 0)
    return m.select(
        "lag",
        "n_pairs",
        F.when(ok, rnd(cov / F.sqrt(varx * vary), 6))
         .otherwise(F.lit(None).cast("double")).alias("lag_corr"),
    ).orderBy("lag")


def interval_join(points: DataFrame, intervals: DataFrame,
                  ts_col: str, start_col: str, end_col: str,
                  bucket_seconds: int = 3600) -> DataFrame:
    """Scalable point-in-interval join: each interval is exploded into
    the fixed-width time buckets it covers, points carry their single
    bucket, and the match is an EQUI-join on the bucket followed by
    the exact ``start ≤ ts ≤ end`` refinement. This is the canonical
    Spark range-join rewrite — a naive ``ON ts BETWEEN start AND end``
    has no equality key, so Catalyst plans BroadcastNestedLoopJoin
    (all points × all intervals, the O(N·M) cliff); bucketing restores
    a shuffle-hash key whose fan-out is bounded by interval length /
    bucket width.

    Each (point, interval) pair can match in at most ONE bucket (the
    point's own), so no post-join dedup is needed. Pick
    ``bucket_seconds`` near the typical interval length: shorter
    buckets multiply interval replication, longer buckets widen the
    per-bucket candidate set. Intervals are assumed start ≤ end
    (upstream contract).

    Returns points' columns + the matched interval's columns.
    """
    b = F.lit(int(bucket_seconds))
    # floor, not cast("long"): cast truncates toward zero, which
    # diverges from the SQL twin's floor() on pre-1970 (negative
    # epoch) timestamps — the equi-join itself would stay correct
    # (truncation is monotone) but hot-bucket grouping would not
    pb = F.floor(F.unix_timestamp(F.col(ts_col)) / b)
    ib = F.explode(
        F.sequence(
            F.floor(F.unix_timestamp(F.col(start_col)) / b),
            F.floor(F.unix_timestamp(F.col(end_col)) / b),
        )
    )
    pts = points.withColumn("_bkt", pb)
    ivs = intervals.withColumn("_bkt", ib)
    return (
        pts.join(ivs, "_bkt")
        .where(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("_bkt")
    )


# bucket width of burst_intervals: one hour
BURST_BUCKET_SECONDS = 3600


def burst_intervals(df: DataFrame, ts_col: str,
                    min_count: int = 4) -> DataFrame:
    """Hot-bucket burst windows from an event stream: bucket the
    stream into ``BURST_BUCKET_SECONDS`` buckets (one combinable count
    agg — the only corpus-sized pass), keep buckets with
    ≥ ``min_count`` events, and merge CONTIGUOUS hot buckets into
    intervals via gaps-and-islands over the BUCKET
    frame (bounded by the time range, never by event volume — windows
    here are safe at any corpus size). Interval endpoints are the
    actual first/last event timestamps inside the island, not bucket
    edges, so downstream refinement stays exact.

    Returns (burst_start, burst_end, n_events, n_buckets).
    """
    b = BURST_BUCKET_SECONDS
    hot = (
        df.groupBy(
            # floor (not cast) for negative-epoch parity with the
            # SQL twin — see interval_join above
            F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(b))
            .alias("bkt")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .where(F.col("cnt") >= int(min_count))
    )
    w = Window.partitionBy().orderBy("bkt")
    isl = hot.withColumn(
        "grp", F.col("bkt") - F.row_number().over(w)
    )
    return (
        isl.groupBy("grp")
        .agg(
            F.min("first_ts").alias("burst_start"),
            F.max("last_ts").alias("burst_end"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
        .drop("grp")
        .select("burst_start", "burst_end", "n_events", "n_buckets")
    )
