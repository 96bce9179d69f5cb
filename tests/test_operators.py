"""Unit semantics of the core operators on tiny hand-checked frames —
mirrors the reference's behavior checks (keep-first dedup, restart
insertion, as-of alignment, sessionization, gap detection)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.operators import relational as R
from sarfile_analyzer_ng_spark.operators import reshape as RS
from sarfile_analyzer_ng_spark.operators import stats as ST
from sarfile_analyzer_ng_spark.operators import timeseries as TS


def ts(s):
    return datetime.fromisoformat(s)


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:00"), 10.0),
         (2, ts("2024-01-01T00:00:00"), 20.0),
         (3, ts("2024-01-01T00:01:00"), 30.0)],
        "id long, t timestamp, v double",
    )
    out = TS.dedup_keep_first(df, ["t"], ["id"]).collect()
    assert {(r["id"], r["v"]) for r in out} == {(1, 10.0), (3, 30.0)}


def test_insert_restarts_zeroes(spark):
    base = spark.createDataFrame(
        [(ts("2024-01-01T00:00:00"), 5.0)], "t timestamp, v double"
    )
    restarts = spark.createDataFrame([(ts("2024-01-01T00:30:00"),)], "t timestamp")
    out = TS.insert_restarts(base, restarts, "t", ["v"])
    rows = {(str(r["t"]), r["v"], r["is_restart"]) for r in out.collect()}
    assert rows == {
        ("2024-01-01 00:00:00", 5.0, False),
        ("2024-01-01 00:30:00", 0.0, True),
    }


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 7, ts("2024-01-01T10:00:00"), 1.0),
         (2, 7, ts("2024-01-01T12:00:00"), 2.0),
         (3, 8, ts("2024-01-01T12:00:00"), 3.0)],
        "event_id long, user long, t timestamp, v double",
    )
    right = spark.createDataFrame(
        [(7, ts("2024-01-01T09:00:00"), 100.0),
         (7, ts("2024-01-01T11:00:00"), 200.0),
         (7, ts("2024-01-01T13:00:00"), 300.0)],
        "user long, t timestamp, v double",
    )
    out = {r["event_id"]: (r["v_r"], r["t_r"] and str(r["t_r"]))
           for r in TS.asof_join(left, right, ["user"], "t", ["v"], "_r")
           .select("event_id", "v_r", F.col("t_r")).collect()}
    assert out[1] == (100.0, "2024-01-01 09:00:00")
    assert out[2] == (200.0, "2024-01-01 11:00:00")
    assert out[3] == (None, None)  # user 8 has no purchases


def test_asof_join_same_timestamp_counts(spark):
    left = spark.createDataFrame(
        [(1, 7, ts("2024-01-01T10:00:00"), 1.0)],
        "event_id long, user long, t timestamp, v double",
    )
    right = spark.createDataFrame(
        [(7, ts("2024-01-01T10:00:00"), 42.0)], "user long, t timestamp, v double"
    )
    out = TS.asof_join(left, right, ["user"], "t", ["v"], "_r").collect()[0]
    assert out["v_r"] == 42.0  # <= semantics: same-instant right row wins


def test_sessionize_gap_boundaries(spark):
    df = spark.createDataFrame(
        [(7, ts("2024-01-01T00:00:00")),
         (7, ts("2024-01-01T00:30:00")),
         (7, ts("2024-01-01T02:00:00")),   # > 1h gap → new session
         (8, ts("2024-01-01T00:00:00"))],
        "user long, t timestamp",
    )
    out = TS.sessionize(df, "t", ["user"], 3600).collect()
    sess = {(r["user"], str(r["t"])): r["session_id"] for r in out}
    assert sess[(7, "2024-01-01 00:00:00")] == 1
    assert sess[(7, "2024-01-01 00:30:00")] == 1
    assert sess[(7, "2024-01-01 02:00:00")] == 2
    assert sess[(8, "2024-01-01 00:00:00")] == 1


def test_detect_gaps(spark):
    df = spark.createDataFrame(
        [(7, ts("2024-01-01T00:00:00")),
         (7, ts("2024-01-01T00:01:00")),
         (7, ts("2024-01-01T05:00:00"))],
        "user long, t timestamp",
    )
    out = TS.detect_gaps(df, "t", ["user"], 3600).collect()
    assert len(out) == 1
    assert out[0]["gap_seconds"] == (5 * 3600 - 60)


def test_unpivot_roundtrip(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], "id long, a double, b double")
    long = ST.unpivot(df, ["id"], ["a", "b"])
    assert {(r["metric"], r["value"]) for r in long.collect()} == {("a", 2.0), ("b", 3.0)}
    wide = RS.pivot_wide(long, ["id"], "metric", "value", ["a", "b"])
    row = wide.collect()[0]
    assert (row["a"], row["b"]) == (2.0, 3.0)


def test_intersect_keys(spark):
    a = spark.createDataFrame([(1,), (2,), (2,)], "k long")
    b = spark.createDataFrame([(2,), (3,)], "k long")
    out = R.intersect_keys([a, b], "k").collect()
    assert [r["k"] for r in out] == [2]


def test_describe_matches_known_values(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    row = ST.describe(df, ["x"]).collect()[0]
    assert row["cnt"] == 3 and row["mean"] == 2.0 and row["stddev"] == 1.0
    assert row["min"] == 1.0 and row["max"] == 3.0


def test_overlay_align_rebases_to_common_day(spark):
    """Two 'files' recorded on different days, same times-of-day, must
    land on identical aligned timestamps (reference replace_ymt
    semantics); a second day within one file keeps its +1d offset."""
    df = spark.createDataFrame(
        [("fa", ts("2024-01-10T08:30:00"), 1.0),
         ("fa", ts("2024-01-11T02:00:00"), 2.0),   # day two of file a
         ("fb", ts("2024-03-05T08:30:00"), 3.0),
         ("fb", ts("2024-03-05T23:15:00"), 4.0)],
        "file string, t timestamp, v double",
    )
    out = {(r["file"], r["v"]): r["ts_aligned"]
           for r in TS.overlay_align(df, "t", ["file"]).collect()}
    assert out[("fa", 1.0)] == out[("fb", 3.0)] == ts("1970-01-01T08:30:00")
    assert out[("fa", 2.0)] == ts("1970-01-02T02:00:00")
    assert out[("fb", 4.0)] == ts("1970-01-01T23:15:00")


def test_asof_join_returns_null_right_value_atomically(spark):
    from sarfile_analyzer_ng_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("u", 12)], "k string, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [("u", 5, 3.0), ("u", 10, None)], "k string, ts long, v double"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out = asof_join(left, right, ["k"], "ts", ["v"]).collect()
    # the as-of row is ts=10 whose v is genuinely NULL: it must come
    # back as NULL with ts_right=10, never v=3.0 stitched from ts=5
    assert len(out) == 1
    assert out[0]["v_right"] is None
    assert str(out[0]["ts_right"]).endswith("00:00:10")


def test_percentiles_and_zscore_keep_null_group_keys(spark):
    from sarfile_analyzer_ng_spark.operators.stats import (
        percentiles, zscore_outliers,
    )

    rows = [(None, float(i)) for i in range(1, 5)] + [("d", 10.0), ("d", 20.0)]
    df = spark.createDataFrame(rows, "device string, value double")
    p = {r["device"]: r["p50"] for r in
         percentiles(df, "value", ["device"], probs=(0.5,)).collect()}
    assert set(p) == {None, "d"}
    assert p[None] == 2.5 and p["d"] == 15.0
    # zscore: null-key rows participate (none outly here, but the
    # group must be scanned, not dropped — use a tight threshold)
    z = zscore_outliers(df, "value", ["device"], threshold=1.0)
    assert z.where(F.col("device").isNull()).count() >= 1


def test_overlay_align_keeps_null_group_keys(spark):
    from sarfile_analyzer_ng_spark.operators.timeseries import overlay_align

    df = spark.createDataFrame(
        [(None, 86400 + 3600), ("f", 7200)], "file string, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out = overlay_align(df, "ts", ["file"])
    assert out.count() == 2


def test_unpivot_escapes_hostile_column_names(spark):
    from sarfile_analyzer_ng_spark.operators.stats import unpivot

    df = spark.createDataFrame([(1.0, 2.0)], ["disk'dev", "ok"])
    out = {r["metric"]: r["value"]
           for r in unpivot(df, [], ["disk'dev", "ok"]).collect()}
    assert out == {"disk'dev": 1.0, "ok": 2.0}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        unpivot(df, [], [])


def test_resample_filled_guards_runaway_grid(spark):
    from sarfile_analyzer_ng_spark.operators.timeseries import resample_filled

    df = spark.createDataFrame(
        [("s", 0), ("s", 10**9)], "k string, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts")).withColumn(
        "v", F.lit(1.0)
    )
    import pytest as _pytest
    with _pytest.raises(Exception, match="max_buckets"):
        resample_filled(df, "ts", 60, ["k"], "v", max_buckets=1000).collect()


def test_seasonal_outliers_uses_per_hour_baseline(spark):
    import datetime as dt

    from sarfile_analyzer_ng_spark.operators import timeseries as TS

    rows = []
    eid = 0
    # series "cpu": quiet at 03:00 (~1.0), busy at 15:00 (~50.0), over
    # several days; a 10.0 reading is a screaming anomaly AT 3AM but
    # utterly normal at 3PM -- the global z-score sees neither
    for day in range(1, 11):
        for h, base in ((3, 1.0), (15, 50.0)):
            eid += 1
            rows.append((eid, "cpu",
                         dt.datetime(2024, 1, day, h, 0, 0),
                         base + (day % 3) * 0.1))
    rows.append((900, "cpu", dt.datetime(2024, 1, 12, 3, 0, 0), 10.0))
    rows.append((901, "cpu", dt.datetime(2024, 1, 12, 15, 0, 0), 50.1))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {r["event_id"]: r for r in TS.seasonal_outliers(
        df, "ts", "value", ["event_type"]).collect()}
    assert 900 in out and out[900]["hour"] == 3      # 3am spike flagged
    assert 901 not in out                            # normal at 3pm
    from sarfile_analyzer_ng_spark.operators.stats import zscore_outliers
    g = {r["event_id"] for r in zscore_outliers(
        df, "value", ["event_type"], 3.0).collect()}
    assert 900 not in g  # the global z-score washes the 3am spike out


def test_ewma_smooth_matches_pandas_and_forecast_identity(spark):
    """ewma_smooth: for a series shorter than the truncation window
    the result IS pandas ewm(adjust=True); for any length,
    forecast_t == ewma_{t-1} (the one-step-ahead contract) and the
    series head has NULL forecast/resid."""
    import datetime as dt

    import pandas as pd

    vals = [5.0, 7.0, 3.0, 9.0, 4.0, 6.5, 2.25, 8.0, 1.0, 7.75]
    rows = [
        (i, 1, dt.datetime(2024, 1, 1, 0, i), v)
        for i, v in enumerate(vals)
    ]
    # a second, longer series crossing the window boundary
    rows += [
        (100 + i, 2, dt.datetime(2024, 1, 1, 0, i), float((i * 7) % 11))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = TS.ewma_smooth(df, "ts", "value", ["user_id"],
                         order_tiebreak=["event_id"])
    got = {r["event_id"]: r for r in out.collect()}

    exp = pd.Series(vals).ewm(alpha=TS.EWMA_ALPHA, adjust=True).mean()
    for i in range(len(vals)):
        assert got[i]["ewma"] == round(round(exp[i], 8), 4)
    assert got[0]["forecast"] is None and got[0]["resid"] is None
    assert got[100]["forecast"] is None

    for series, n in ((0, len(vals)), (100, 40)):
        for i in range(1, n):
            prev = got[series + i - 1]["ewma"]
            assert got[series + i]["forecast"] == prev


def test_trend_fit_recovers_planted_line(spark):
    """y = 10 + 2.5*x_days exactly -> slope 2.5, intercept 10, R² 1."""
    rows = [("a", ts(f"2024-01-0{d} 00:00:00"), 10.0 + 2.5 * (d - 1))
            for d in range(1, 6)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = TS.trend_fit(df, "ts", "value", ["k"]).collect()[0]
    assert out["n_samples"] == 5
    assert abs(out["slope_per_day"] - 2.5) < 1e-6
    assert abs(out["intercept"] - 10.0) < 1e-6
    assert abs(out["r2"] - 1.0) < 1e-6


def test_trend_fit_degenerate_series_guarded(spark):
    """A single sample (var_x = 0) and a constant-value series
    (var_y = 0) report slope/R² 0 instead of dividing by zero."""
    rows = [
        ("single", ts("2024-01-01 00:00:00"), 42.0),
        ("flat", ts("2024-01-01 00:00:00"), 7.0),
        ("flat", ts("2024-01-02 00:00:00"), 7.0),
        ("flat", ts("2024-01-03 00:00:00"), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {r["k"]: r for r in TS.trend_fit(df, "ts", "value", ["k"]).collect()}
    assert out["single"]["slope_per_day"] == 0.0
    assert out["single"]["r2"] == 0.0
    assert out["flat"]["slope_per_day"] == 0.0
    assert out["flat"]["intercept"] == 7.0
    assert out["flat"]["r2"] == 0.0


def test_mad_outliers_robust_to_the_spike_zscore_misses(spark):
    """A 1000x spike drags the mean/stddev enough that plain z-score
    (tau=3) can miss a secondary 50x spike; the median/MAD flag both.
    Also: the spike must not flag any of the quiet samples."""
    quiet = [("cpu", float(v)) for v in
             [10, 11, 9, 10, 12, 10, 9, 11, 10, 10, 11, 9]]
    rows = quiet + [("cpu", 10000.0), ("cpu", 500.0)]
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        "event_id long, k string, value double",
    )
    out = ST.mad_outliers(df, "value", ["k"])
    flagged = {r["event_id"] for r in out.collect()}
    assert 12 in flagged and 13 in flagged     # both spikes
    assert all(e >= 12 for e in flagged)       # no quiet sample flagged


def test_mad_outliers_zero_mad_group_flags_nothing(spark):
    """Over half the samples identical -> MAD = 0 -> no division, no
    flags (the documented convention)."""
    rows = [(i, "flat", 5.0) for i in range(8)] + [(8, "flat", 9999.0)]
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    assert ST.mad_outliers(df, "value", ["k"]).count() == 0


def test_moments_merge_equals_direct_stats(spark):
    """Merged (n, mean, var) from two parts equals the single-pass
    stats over the union — including a group present in only ONE
    part."""
    old = spark.createDataFrame(
        [("s1", 10.0), ("s1", 12.0), ("s1", 14.0), ("s2", 5.0), ("s2", 7.0)],
        "source string, v double",
    )
    new = spark.createDataFrame(
        [("s1", 20.0), ("s1", 22.0), ("s3", 100.0), ("s3", 104.0)],
        "source string, v double",
    )
    got = {r["source"]: r for r in
           ST.moments_merge(old, new, "v", ["source"]).collect()}
    direct = {r["source"]: r for r in
              old.unionByName(new).groupBy("source").agg(
                  F.count(F.lit(1)).alias("n"),
                  F.avg("v").alias("m"),
                  F.var_samp("v").alias("s2"),
              ).collect()}
    for s in ("s1", "s2", "s3"):
        assert got[s]["n_total"] == direct[s]["n"]
        assert abs(got[s]["mean_merged"] - direct[s]["m"]) < 1e-6
        assert abs(got[s]["var_merged"] - direct[s]["s2"]) < 1e-6
    assert got["s2"]["n_new"] == 0 and got["s3"]["n_old"] == 0
    # single-sample group: var 0 by convention
    one = ST.moments_merge(
        spark.createDataFrame([("x", 3.0)], "source string, v double"),
        spark.createDataFrame([], "source string, v double"),
        "v", ["source"],
    ).collect()[0]
    assert one["n_total"] == 1 and one["var_merged"] == 0.0


def test_threshold_runs_islands_and_min_run(spark):
    """Two hot islands (lengths 3 and 2) separated by a cool sample:
    only the >= min_run island survives, with correct bounds/peak."""
    rows = [
        (1, ts("2024-01-01 00:00:00"), 90.0),
        (2, ts("2024-01-01 00:01:00"), 95.0),
        (3, ts("2024-01-01 00:02:00"), 91.0),
        (4, ts("2024-01-01 00:03:00"), 10.0),   # breaks the run
        (5, ts("2024-01-01 00:04:00"), 99.0),
        (6, ts("2024-01-01 00:05:00"), 99.0),
    ]
    df = spark.createDataFrame(
        [("cpu", *r) for r in rows],
        "k string, event_id long, ts timestamp, value double",
    )
    runs = TS.threshold_runs(df, "ts", "value", ["k"], threshold=80.0,
                             tiebreak="event_id").collect()
    assert len(runs) == 1
    r = runs[0]
    assert r["n_samples"] == 3 and r["peak_value"] == 95.0
    assert r["start_ts"] == ts("2024-01-01 00:00:00")
    assert r["end_ts"] == ts("2024-01-01 00:02:00")


def test_cusum_catches_small_persistent_shift_zscore_misses(spark):
    """A +1.5σ persistent shift in the second half: no single sample
    crosses a 4σ point threshold, but the CUSUM accumulates and
    alarms; the pre-shift half must stay quiet."""
    base = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.5, 9.5] * 3
    shifted = [v + 2.0 for v in base]
    vals = base + shifted
    rows = [("m", i, ts(f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}"), v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "k string, event_id long, ts timestamp, value double")
    alarms = TS.cusum_alarms(df, "ts", "value", ["k"],
                             tiebreak="event_id").collect()
    assert alarms, "persistent shift must alarm"
    assert min(a["event_id"] for a in alarms) >= len(base)
    # no sample individually crosses mean + 4*sigma (z-score silent)
    import statistics
    mu, sd = statistics.mean(vals), statistics.stdev(vals)
    assert max(vals) < mu + 4 * sd


def test_capacity_forecast_statuses_and_days(spark):
    """A rising series crossing the limit in a known number of days, a
    flat series (never crosses), and an already-breached series."""
    rows = []
    # rising: y = 100 + 10*x_days -> fit_now at day 4 = 140; limit 200
    # => headroom 60 / slope 10 = 6.0 days
    for d in range(5):
        rows.append(("up", ts(f"2024-01-0{d + 1} 00:00:00"),
                     100.0 + 10.0 * d))
    # flat: constant 50
    for d in range(5):
        rows.append(("flat", ts(f"2024-01-0{d + 1} 00:00:00"), 50.0))
    # breached: already above 200 and rising
    for d in range(5):
        rows.append(("hot", ts(f"2024-01-0{d + 1} 00:00:00"),
                     250.0 + d))
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    out = {r["k"]: r for r in TS.capacity_forecast(
        df, "t", "v", ["k"], limit=200.0).collect()}
    assert out["up"]["status"] == "rising"
    assert out["up"]["days_to_limit"] == 6.0
    assert out["up"]["slope_per_day"] == 10.0
    assert out["flat"]["status"] == "flat"
    assert out["flat"]["days_to_limit"] is None
    assert out["hot"]["status"] == "breached"
    assert out["hot"]["days_to_limit"] is None


def test_lag_correlation_finds_planted_lead(spark):
    """B leads A by exactly 2 hours (A(t) = B(t-2h)): lag 2 must be a
    perfect 1.0 correlation and lag 0 must not be."""
    import math

    vals = [math.sin(i * 0.7) * 10 + 20 for i in range(48)]
    rows = []
    for i, v in enumerate(vals):
        rows.append(("b", ts(f"2024-01-{1 + i // 24:02d} "
                             f"{i % 24:02d}:30:00"), v))
    for i, v in enumerate(vals):
        j = i + 2  # A at hour i+2 equals B at hour i
        if j < 48:
            rows.append(("a", ts(f"2024-01-{1 + j // 24:02d} "
                                 f"{j % 24:02d}:15:00"), v))
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    out = {r["lag"]: r for r in TS.lag_correlation(
        df, "t", "v", "k", "a", "b", max_lag=4).collect()}
    assert out[2]["lag_corr"] == 1.0
    assert out[2]["n_pairs"] == 46
    assert abs(out[0]["lag_corr"]) < 0.99


def test_anomaly_ensemble_consistent_with_member_detectors(spark):
    """q157's flagged set must be exactly the events at least two of
    q20/q140/q145 flag, with vote flags matching membership."""
    from sarfile_analyzer_ng_spark.queries import (
        q20_outliers,
        q140_mad_outliers,
        q145_cusum_alarms,
        q157_anomaly_ensemble,
    )

    from .conftest import SF_DIR

    z = {r["event_id"] for r in q20_outliers(spark, SF_DIR).collect()}
    m = {r["event_id"] for r in q140_mad_outliers(spark, SF_DIR).collect()}
    c = {r["event_id"] for r in q145_cusum_alarms(spark, SF_DIR).collect()}
    expect = {e for e in z | m | c
              if (e in z) + (e in m) + (e in c) >= 2}
    got = q157_anomaly_ensemble(spark, SF_DIR).collect()
    assert {r["event_id"] for r in got} == expect
    for r in got:
        assert r["vote_z"] == int(r["event_id"] in z)
        assert r["vote_mad"] == int(r["event_id"] in m)
        assert r["vote_cusum"] == int(r["event_id"] in c)
        assert r["n_votes"] == r["vote_z"] + r["vote_mad"] + r["vote_cusum"]
    assert got, "the gate corpus must produce at least one co-fire"


def test_ks_two_sample_identical_zero_disjoint_one(spark):
    a = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    b = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    r = ST.ks_two_sample(a, b, "v").collect()[0]
    assert r["ks_d"] == 0.0 and r["n_old"] == 10 and r["n_new"] == 10
    c = spark.createDataFrame([(float(i + 100),) for i in range(10)],
                              "v double")
    r2 = ST.ks_two_sample(a, c, "v").collect()[0]
    assert r2["ks_d"] == 1.0


def test_ks_two_sample_hand_value(spark):
    """a = {1,2,3,4}, b = {3,4,5,6}: ECDFs diverge most at v=2
    (a: 0.5, b: 0.0) -> D = 0.5."""
    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    b = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "v double")
    assert ST.ks_two_sample(a, b, "v").collect()[0]["ks_d"] == 0.5
