"""Correctness-gate registry: every operator from SURVEY.md §2 bound to
the driver testdata, each with a DuckDB-runnable ANSI-SQL oracle.

Contract (see __spark_entry__.py): each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose column NAMES and
(rounded) VALUES match the oracle SQL run by DuckDB on the same parquet
files. Floating-point aggregates are rounded on BOTH sides (round 4, or
2 for money sums) so IEEE summation-order differences can't flip the
value hash; integers are cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .util import (MEMO_BUILDERS, fan_out, rnd, session_memo, shard_hash,
                   sql_rnd)
from .functions import dedup as D
from .functions import similarity as S
from .functions import text as TX
from .functions import html as H
from .functions import markdown as MD
from .functions import web as W
from .operators import relational as R
from .operators import reshape as RS
from .operators import stats as ST
from .operators import timeseries as TS

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Tuned on sf0.01: no observed value sits within 1e-3 of a threshold,
# so rounded-value comparisons cannot flip membership across engines.
COSINE_DUP_TAU = 0.4
ZSCORE_TAU = 3.0
GAP_SECONDS = 14400
JACCARD_TAU = 0.5
ANN_K = 5
ANN_NUM_QUERIES = 10


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------
# §2.2 core operators
# --------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """Flagship grouped aggregation (O1): the reference's per-section
    statistics pattern as a TPC-H-Q1-style rollup."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        rnd(F.sum(disc_price), 2).alias("sum_disc_price"),
        rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
        rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
        rnd(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_Q01 = f"""
SELECT l_returnflag, l_linestatus,
       {sql_rnd('sum(l_quantity)', 2)}                          AS sum_qty,
       {sql_rnd('sum(l_extendedprice)', 2)}                     AS sum_base_price,
       {sql_rnd('sum(l_extendedprice * (1 - l_discount))', 2)}  AS sum_disc_price,
       {sql_rnd('avg(l_quantity)', 4)}                          AS avg_qty,
       {sql_rnd('avg(l_extendedprice)', 4)}                     AS avg_price,
       {sql_rnd('avg(l_discount)', 4)}                          AS avg_disc,
       count(*)::BIGINT                                   AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


DESCRIBE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q02_describe_stats(spark, sf_dir):
    """describe() (O2) over lineitem numeric metrics."""
    return ST.describe(_t(spark, sf_dir, "lineitem"), DESCRIBE_COLS)


SQL_Q02 = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS metric, count({c})::BIGINT AS cnt,
           (count(*) - count({c}))::BIGINT AS null_cnt,
           {sql_rnd(f'avg({c})', 4)} AS mean, {sql_rnd(f'stddev_samp({c})', 4)} AS stddev,
           {sql_rnd(f'min({c})', 4)} AS min, {sql_rnd(f'max({c})', 4)} AS max
    FROM lineitem"""
    for c in DESCRIBE_COLS
)


def q03_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (O3)."""
    return ST.percentiles(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", ["l_returnflag"]
    )


SQL_Q03 = f"""
SELECT l_returnflag,
       {sql_rnd('quantile_cont(l_extendedprice, 0.25)', 4)} AS p25,
       {sql_rnd('quantile_cont(l_extendedprice, 0.50)', 4)} AS p50,
       {sql_rnd('quantile_cont(l_extendedprice, 0.75)', 4)} AS p75
FROM lineitem GROUP BY l_returnflag
"""

T_START = "2024-01-10 00:00:00"
T_END = "2024-01-20 00:00:00"


def q04_time_filter(spark, sf_dir):
    """Time-range slice (O4) + per-type rollup; predicate pushed to scan."""
    ev = TS.time_filter(_t(spark, sf_dir, "events"), "ts", T_START, T_END)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(F.sum("value"), 4).alias("sum_value"),
        rnd(F.avg("value"), 4).alias("avg_value"),
    )


SQL_Q04 = f"""
SELECT event_type, count(*)::BIGINT AS cnt,
       {sql_rnd('sum(value)', 4)} AS sum_value, {sql_rnd('avg(value)', 4)} AS avg_value
FROM events
WHERE ts >= TIMESTAMP '{T_START}' AND ts <= TIMESTAMP '{T_END}'
GROUP BY event_type
"""


def q05_dedup_first(spark, sf_dir):
    """Keep-first dedup (O5): first event per (user, type)."""
    return TS.dedup_keep_first(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], ["ts", "event_id"]
    )


SQL_Q05 = """
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
"""


def q06_pivot_wide(spark, sf_dir):
    """Pivot long→wide (O6): daily avg value per event type as columns."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.date_trunc("day", F.col("ts")))
    return RS.pivot_wide(ev, ["day"], "event_type", "value", EVENT_TYPES)


SQL_Q06 = "SELECT date_trunc('day', ts) AS day, " + ", ".join(
    sql_rnd(f"avg(CASE WHEN event_type = '{t}' THEN value END)", 4) + f" AS {t}"
    for t in EVENT_TYPES
) + " FROM events GROUP BY 1"


MELT_COLS = ["l_quantity", "l_discount", "l_tax"]


def q07_melt_long(spark, sf_dir):
    """Melt wide→long (O7) — multi_files_pl.py:173 ``.melt``."""
    return RS.melt(
        _t(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"], MELT_COLS
    )


SQL_Q07 = " UNION ALL ".join(
    f"SELECT l_orderkey, l_linenumber, '{c}' AS metric, {c} AS value FROM lineitem"
    for c in MELT_COLS
)


def q08_header_inventory(spark, sf_dir):
    """Section inventory (O8) — ``get_headers`` with counts."""
    return RS.inventory(_t(spark, sf_dir, "events"), "event_type")


SQL_Q08 = "SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY event_type"


def q09_device_filter(spark, sf_dir):
    """Per-device filter + rollup (O9): user_id plays the device role."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"), rnd(F.avg("value"), 4).alias("avg_value")
    )


SQL_Q09 = f"""
SELECT user_id, count(*)::BIGINT AS cnt, {sql_rnd('avg(value)', 4)} AS avg_value
FROM events WHERE event_type = 'click' GROUP BY user_id
"""


def q10_resample(spark, sf_dir):
    """Hourly resample (O10)."""
    return TS.resample(
        _t(spark, sf_dir, "events"), "ts", "hour", [],
        [F.count(F.lit(1)).alias("cnt"), rnd(F.avg("value"), 4).alias("avg_value")],
    )


SQL_Q10 = f"""
SELECT date_trunc('hour', ts) AS bucket, count(*)::BIGINT AS cnt,
       {sql_rnd('avg(value)', 4)} AS avg_value
FROM events GROUP BY 1
"""


def q11_minmax_argmax(spark, sf_dir):
    """Min/max + argmax timestamp per series (O11)."""
    return ST.minmax_argmax(_t(spark, sf_dir, "events"), ["event_type"], "value", "ts")


SQL_Q11 = f"""
WITH mm AS (
  SELECT event_type, {sql_rnd('min(value)', 4)} AS min_value,
         {sql_rnd('max(value)', 4)} AS max_value
  FROM events GROUP BY event_type),
top AS (
  SELECT event_type, ts AS max_at FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type
                             ORDER BY value DESC, ts DESC) = 1)
SELECT mm.event_type, min_value, max_value, max_at
FROM mm JOIN top USING (event_type)
"""


def q12_restart_insert(spark, sf_dir):
    """Restart-row insertion (O12): zero rows at high-severity errors."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("event_type") == "click")
    restarts = ev.where((F.col("event_type") == "error") & (F.col("value") > 9.5))
    return TS.insert_restarts(base, restarts, "ts", ["value"])


SQL_Q12 = """
SELECT ts, value, FALSE AS is_restart FROM events WHERE event_type = 'click'
UNION ALL
SELECT ts, 0.0 AS value, TRUE AS is_restart FROM events
WHERE event_type = 'error' AND value > 9.5
"""

MID = "2024-01-16 00:00:00"


def q13_intersect_headers(spark, sf_dir):
    """Key intersection across sources (O13) — ``merge_headers``."""
    ev = _t(spark, sf_dir, "events")
    first = ev.where(F.col("ts") < F.lit(MID))
    second = ev.where(F.col("ts") >= F.lit(MID))
    return R.intersect_keys([first, second], "user_id")


SQL_Q13 = f"""
SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '{MID}'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '{MID}'
"""


def q14_multifile_describe(spark, sf_dir):
    """Multi-source union + combined stats (O14) — display_averages."""
    ev = _t(spark, sf_dir, "events")
    named = [
        ("file_a", ev.where(F.col("ts") < F.lit(MID))),
        ("file_b", ev.where(F.col("ts") >= F.lit(MID))),
    ]
    merged = R.union_with_source(named)
    return merged.groupBy("source_file", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(F.avg("value"), 4).alias("mean"),
        rnd(F.stddev_samp("value"), 4).alias("stddev"),
        F.round(F.min("value"), 4).alias("min"),
        F.round(F.max("value"), 4).alias("max"),
    )


SQL_Q14 = f"""
WITH merged AS (
  SELECT *, CASE WHEN ts < TIMESTAMP '{MID}' THEN 'file_a' ELSE 'file_b' END
         AS source_file
  FROM events)
SELECT source_file, event_type, count(*)::BIGINT AS cnt,
       {sql_rnd('avg(value)', 4)} AS mean, {sql_rnd('stddev_samp(value)', 4)} AS stddev,
       {sql_rnd('min(value)', 4)} AS min, {sql_rnd('max(value)', 4)} AS max
FROM merged GROUP BY source_file, event_type
"""


def q15_global_range(spark, sf_dir):
    """Global start/end per series (O15)."""
    return R.global_range(_t(spark, sf_dir, "events"), "ts", ["event_type"])


SQL_Q15 = """
SELECT event_type, min(ts) AS start_ts, max(ts) AS end_ts,
       count(*)::BIGINT AS cnt
FROM events GROUP BY event_type
"""


def q16_alias_join(spark, sf_dir):
    """Broadcast dimension join (O16) — header→alias lookup analog."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return R.dim_join(
        nation, region, nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name", "r_name")


SQL_Q16 = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q17_join_rollup(spark, sf_dir):
    """Fact-fact-dim join chain + rollup (O17)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            rnd(F.sum(revenue), 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_Q17 = f"""
SELECT c_mktsegment,
       {sql_rnd('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       count(DISTINCT o_orderkey)::BIGINT AS n_orders,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q18_topk(spark, sf_dir):
    """Top-k without global sort (O18)."""
    o = _t(spark, sf_dir, "orders")
    return R.top_k(
        o.select("o_orderkey", "o_totalprice", "o_orderdate"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


SQL_Q18 = """
SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q19_correlation(spark, sf_dir):
    """Metric correlation per group (O19) — compare-metrics page."""
    return ST.correlation(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice",
        ["l_returnflag"],
    )


SQL_Q19 = f"""
SELECT l_returnflag, {sql_rnd('corr(l_quantity, l_extendedprice)', 4)} AS corr_xy,
       count(*)::BIGINT AS cnt
FROM lineitem GROUP BY l_returnflag
"""


def q20_outliers(spark, sf_dir):
    """Z-score outliers per series (O20)."""
    out = ST.zscore_outliers(
        _t(spark, sf_dir, "events"), "value", ["event_type"], ZSCORE_TAU
    )
    return out.select("event_id", "event_type", "value", "zscore")


SQL_Q20 = f"""
WITH s AS (SELECT event_type AS et, avg(value) AS m, stddev_samp(value) AS sd
           FROM events GROUP BY event_type)
SELECT event_id, event_type, value, {sql_rnd('(value - m) / sd', 4)} AS zscore
FROM events JOIN s ON event_type = et
WHERE abs((value - m) / sd) > {ZSCORE_TAU}
"""


def q21_gap_detect(spark, sf_dir):
    """Sampling-gap detection per series (O21) — restart analog."""
    return TS.detect_gaps(_t(spark, sf_dir, "events"), "ts", ["user_id"], GAP_SECONDS)


SQL_Q21 = f"""
SELECT user_id, prev_ts, ts, gap_seconds FROM (
  SELECT user_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts, ts,
         floor(epoch(ts))::BIGINT
           - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))::BIGINT
           AS gap_seconds
  FROM events)
WHERE gap_seconds > {GAP_SECONDS}
"""


def q22_hourly_profile(spark, sf_dir):
    """Hour-of-day profile (O22)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("long").alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("cnt"), rnd(F.avg("value"), 4).alias("avg_value")
    )


SQL_Q22 = f"""
SELECT hour(ts)::BIGINT AS hour_of_day, count(*)::BIGINT AS cnt,
       {sql_rnd('avg(value)', 4)} AS avg_value
FROM events GROUP BY 1
"""


def q23_rolling_avg(spark, sf_dir):
    """Rolling mean per series (O23)."""
    out = TS.rolling_mean(_t(spark, sf_dir, "events"), "ts", "value",
                          ["event_type"], preceding=5)
    return out.select("event_id", "event_type", "ts", "value", "rolling_mean")


SQL_Q23 = f"""
SELECT event_id, event_type, ts, value,
       {sql_rnd('''avg(value) OVER (PARTITION BY event_type ORDER BY ts
                              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)''', 4)}
         AS rolling_mean
FROM events
"""


def q24_running_sum(spark, sf_dir):
    """Cumulative running total per series (O24)."""
    out = TS.running_sum(_t(spark, sf_dir, "events"), "ts", "value", ["user_id"])
    return out.select("event_id", "user_id", "ts", "value", "running_sum")


SQL_Q24 = f"""
SELECT event_id, user_id, ts, value,
       {sql_rnd('''sum(value) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 4)}
         AS running_sum
FROM events
"""


def q25_asof_join(spark, sf_dir):
    """As-of join (O25): latest purchase at-or-before each click."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = TS.asof_join(clicks, purchases, ["user_id"], "ts", ["value"],
                       suffix="_purchase")
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("ts_purchase").alias("purchase_ts"),
        F.col("value_purchase").alias("purchase_value"),
    )


SQL_Q25 = """
SELECT c.event_id, c.user_id, c.ts, c.value,
       p.ts AS purchase_ts, p.value AS purchase_value
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""

SESSION_GAP = 3600


def q26_sessionize(spark, sf_dir):
    """Gap-based sessionization (O26) + per-session rollup."""
    sess = TS.sessionize(_t(spark, sf_dir, "events"), "ts", ["user_id"], SESSION_GAP)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        rnd(F.sum("value"), 4).alias("sum_value"),
    )


SQL_Q26 = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {SESSION_GAP}
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       {sql_rnd('sum(value)', 4)} AS sum_value
FROM sessions GROUP BY user_id, session_id
"""


def q27_salted_agg(spark, sf_dir):
    """Skew-proof two-stage aggregation (operators/skew.py): identical
    results to the direct groupBy, shuffle spread over salt shards —
    the plan for hot keys (sar's 'all' CPU, busy devices)."""
    from .operators import skew as SK

    ev = _t(spark, sf_dir, "events")
    merged = SK.salted_agg(
        ev, ["event_type"],
        [("sum", "value", "_s"), ("count", "value", "cnt"),
         ("min", "value", "_mn"), ("max", "value", "_mx")],
        num_salts=16,
    )
    return merged.select(
        "event_type",
        rnd(F.col("_s"), 4).alias("sum_value"),
        F.col("cnt"),
        F.round(F.col("_mn"), 4).alias("min_value"),
        F.round(F.col("_mx"), 4).alias("max_value"),
    )


SQL_Q27 = f"""
SELECT event_type,
       {sql_rnd('sum(value)', 4)}
         AS sum_value,
       count(value)::BIGINT AS cnt,
       {sql_rnd('min(value)', 4)}
         AS min_value,
       {sql_rnd('max(value)', 4)}
         AS max_value
FROM events GROUP BY event_type
"""


def q46_delta_rate(spark, sf_dir):
    """Counter→rate conversion (sysstat's own derivation of .../s
    metrics): per-second delta of the running per-user value sum."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = TS.delta_rate(ev, "ts", "value", ["user_id"])
    return out.select("event_id", "user_id", "ts", "rate")


SQL_Q46 = f"""
SELECT event_id, user_id, ts,
       CASE WHEN dt > 0 THEN
         {sql_rnd('(value - prev_v) / dt', 4)}
       END AS rate
FROM (
  SELECT event_id, user_id, ts, value,
         lag(value) OVER w AS prev_v,
         floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT AS dt
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
"""


FILL_BUCKET_SECONDS = 21600  # 6h


def q47_resample_filled(spark, sf_dir):
    """Gap-filled resample: fixed 6h buckets per event type including
    empty buckets (cnt=0) — the explicit grid behind chart gaps."""
    ev = _t(spark, sf_dir, "events")
    return TS.resample_filled(ev, "ts", FILL_BUCKET_SECONDS, ["event_type"], "value")


SQL_Q47 = f"""
WITH base AS (
  SELECT event_type, ts, value,
         to_timestamp((floor(epoch(ts) / {FILL_BUCKET_SECONDS})
                       * {FILL_BUCKET_SECONDS})::BIGINT)::TIMESTAMP AS bucket
  FROM events),
aggs AS (
  SELECT event_type, bucket, count(*)::BIGINT AS cnt,
         {sql_rnd('sum(value)', 4)}
           AS sum_value
  FROM base GROUP BY 1, 2),
spans AS (
  SELECT event_type,
         (floor(min(epoch(ts)) / {FILL_BUCKET_SECONDS})
          * {FILL_BUCKET_SECONDS})::BIGINT AS lo,
         (floor(max(epoch(ts)) / {FILL_BUCKET_SECONDS})
          * {FILL_BUCKET_SECONDS})::BIGINT AS hi
  FROM events GROUP BY 1),
grid AS (
  SELECT event_type, to_timestamp(unnest(range(lo, hi + 1,
         {FILL_BUCKET_SECONDS})))::TIMESTAMP AS bucket
  FROM spans)
SELECT g.event_type, g.bucket,
       coalesce(a.cnt, 0)::BIGINT AS cnt,
       coalesce(a.sum_value, 0.0) AS sum_value
FROM grid g LEFT JOIN aggs a
  ON g.event_type = a.event_type AND g.bucket = a.bucket
"""


def q48_topn_per_group(spark, sf_dir):
    """Top-3 orders per market segment (top-N per group, not global
    top-k): window rank over the joined fact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    out = TS.top_n_per_group(
        joined, ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3,
    )
    return out


SQL_Q48 = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rank_in_group FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT
           AS rank_in_group
  FROM orders JOIN customer ON o_custkey = c_custkey)
WHERE rank_in_group <= 3
"""


# --------------------------------------------------------------------
# §2.3 LLM-pipeline operators
# --------------------------------------------------------------------

PLANT_OFFSET = 1_000_000


def _twin_text_expr(text: Column, doc_id: Column) -> Column:
    """The planted-twin transform ``text || ' zz' || doc_id%97`` —
    ONE definition shared by :func:`_planted_corpus` and q121's
    re-offer batch: q121 reuses the planted twins' signatures under a
    pure key shift (+2·PLANT_OFFSET), so the two expressions MUST
    stay textually identical (r12 ADVICE — a drift between them
    desyncs the reuse and only the next oracle run would catch it).
    tests/test_wave21.py asserts every raw doc_id < PLANT_OFFSET,
    the other assumption the reuse rests on."""
    return F.concat(text, F.lit(" zz"), (doc_id % 97).cast("string"))


def _planted_corpus(spark, sf_dir):
    """documents ∪ shifted near-duplicates — gives dedup operators real
    duplicates to find while staying fully SQL-reproducible.

    The appended marker varies per document (`zz<doc_id mod 97>`): a
    constant suffix would give every planted doc 3 identical shingles,
    turning the jaccard candidate join into all-pairs over the planted
    half (measured 87M candidate rows at sf0.1 vs ~9M with variation).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        _twin_text_expr(F.col("text"), F.col("doc_id")).alias("text"),
    )
    return docs.unionByName(dups)


SQL_PLANTED = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET} AS doc_id,
         text || ' zz' || CAST(doc_id % 97 AS VARCHAR) AS text
  FROM documents
"""


def q30_dedup_exact(spark, sf_dir):
    """Exact dedup (L1) on a corpus with planted exact duplicates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text")
    corpus = docs.unionByName(dups)
    kept = D.exact_dedup(corpus, "text", "doc_id")
    return kept.select("doc_id", F.md5("text").alias("md5"))


SQL_Q30 = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET}, text FROM documents)
SELECT doc_id, md5(text) AS md5 FROM (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM corpus) WHERE rn = 1
"""


# One MinHash banding computation serves both its consumers — q31 (the
# near-dup demo) and q51 (the twin-recall gate) run the IDENTICAL
# pipeline on the identical planted corpus, so the pairs frame is
# cached and memoized per (session, sf_dir). Memory is bounded (the
# candidate-pair frame: two ids + a double per pair) and deliberately
# NOT listed in _cached_inputs: it is session-lived by design, released
# only by session teardown / an explicit clearCache.
#
# r8: the recorded family is the ORACLE-PORTABLE md5+affine variant
# (dedup.minhash_lsh_pairs_portable) — 32 hashes / 16 bands of 2 rows
# — so q31's signatures, band keys, and est_jaccard values all replay
# in DuckDB and the key graduates from rows-only to fully value-hash
# oracled. The 2-row bands drop the LSH threshold to s50 ≈ 0.25,
# which makes q51's twin recall DETERMINISTICALLY safe for the
# shortest gate documents (10 words → twin jaccard 8/9; per-band
# match P = s² ≈ 0.79, miss = (0.21)^16 ≈ 1e-11 — and the fixed hash
# family makes the verdict a constant of the corpus, not a per-run
# coin flip). The xxhash64 production family stays the q56 candidate
# generator, where the tighter 4-row bands keep the verify join
# small.
MINHASH_PORT_HASHES = 32
MINHASH_PORT_BANDS = 16
# r9: hot-band cap (the q67/Z72 convention, closing the last uncapped
# band join — VERDICT r8 "What's wrong" #2). Inert at every gate
# scale (measured max band df: 8 at sf0.001, 6 at sf0.01, 24 at
# sf0.1) and protective beyond it; mirrored verbatim in the q31/q121
# oracle SQL so value parity holds even when the cap bites.
MINHASH_MAX_DF = 500


# One portable-signature frame over the planted corpus serves the q31
# pair memo AND q121's incremental screen: signatures are pure
# functions of text, the planted corpus's base half IS the raw
# documents table, and its twin half carries the exact text transform
# q121's re-offer batch synthesizes (`text || ' zz' || id%97`) — so
# two of q121's three signature builds are the same rows under a
# different key. Bounded: one 32-long array per planted doc.
@session_memo("_memo_minhash_sigs")
def _minhash_sigs_shared(spark, sf_dir) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    return D.minhash_signatures_portable(
        corpus, "text", "doc_id", num_hashes=MINHASH_PORT_HASHES
    ).cache()


@session_memo("_memo_minhash_pairs_portable")
def _minhash_pairs_shared(spark, sf_dir) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    return D.minhash_lsh_pairs_portable(
        corpus, "text", "doc_id",
        num_hashes=MINHASH_PORT_HASHES, bands=MINHASH_PORT_BANDS,
        max_df=MINHASH_MAX_DF,
        sigs=_minhash_sigs_shared(spark, sf_dir),
    ).cache()


def q31_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup (L2), oracle-portable family
    (functions/dedup.py:minhash_lsh_pairs_portable): md5-derived
    32-bit shingle fingerprints mixed by a fixed affine family mod
    2^31−1, 16 string-keyed bands of 2 rows — every signature, band
    key, and est_jaccard value replays in DuckDB, so this key is
    fully value-hash oracled (r8; previously rows-only under
    xxhash64). Same banding plan shape as the production family."""
    pairs = _minhash_pairs_shared(spark, sf_dir)
    return pairs.where(F.col("est_jaccard") >= 0.5)


def _sql_minhash_portable_pairs(threshold: str) -> str:
    """DuckDB replay of the portable MinHash banding over the planted
    corpus: same shingles, same md5 fingerprints, same affine mins,
    same band keys, same matching-fraction estimate."""
    params = D.affine_params(MINHASH_PORT_HASHES)
    rows = MINHASH_PORT_HASHES // MINHASH_PORT_BANDS
    hcols = ",\n         ".join(
        f"min((fp * {a} + {b}) % {D.PORTABLE_P})::BIGINT AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_exprs = ", ".join(
        "'" + str(b) + "_' || "
        + " || '_' || ".join(f"h{b * rows + r}" for r in range(rows))
        for b in range(MINHASH_PORT_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_PORT_HASHES)
    )
    est = sql_rnd(f"({match_sum})::DOUBLE / {MINHASH_PORT_HASHES}", 4)
    hlist = ", ".join(f"h{i}" for i in range(MINHASH_PORT_HASHES))
    return f"""
WITH corpus AS ({SQL_PLANTED}),
words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc, shingle FROM (
    SELECT doc, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc, array_to_string(w, ' ') AS shingle FROM words WHERE len(w) < 3)),
fp AS (SELECT doc, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS fp FROM sh),
sig AS (SELECT doc, {hcols}
        FROM fp GROUP BY doc),
banded0 AS (SELECT doc, {hlist}, unnest([{band_exprs}]) AS band FROM sig),
hot AS (
  SELECT band FROM banded0 GROUP BY band
  HAVING count(*) > {MINHASH_MAX_DF}),
banded AS (
  SELECT * FROM banded0 b0
  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.band = b0.band))
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, {est} AS est_jaccard
FROM banded a JOIN banded b ON a.band = b.band AND a.doc < b.doc
WHERE {est} >= {threshold}
"""


SQL_Q31 = _sql_minhash_portable_pairs("0.5")


# One SimHash signing pass over the PLANTED corpus serves the whole
# simhash family: q32 bands these signatures directly, and q52 derives
# the base-document signatures by filtering below PLANT_OFFSET (the
# planted half's ids are shifted by it) — one cached explode+32-agg
# pipeline instead of one per consumer. A split design (sign base and
# planted halves separately, union) measured SLOWER for q32 (+1.4 s at
# sf0.1): two aggregation pipelines + a cache barrier cost more than
# the single fused pass. Tiny frame (doc id + one long per row);
# session-lived like _minhash_pairs_shared, deliberately not in
# _cached_inputs.
@session_memo("_memo_simhash_sigs")
def _planted_simhash_sigs(spark, sf_dir) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    return D.simhash(corpus, "text", "doc_id").cache()


SIMHASH_PORT_HAMMING = 3  # 4 bands of 8 bits: pigeonhole recall EXACT here
# q67/q117 convention: inert at the sf0.01 oracle scale (max band df
# measured 252) and protective beyond it (sf0.1 max 2673, sf1 ~10×
# that — the 8-bit buckets otherwise grow candidates ~n²/256)
SIMHASH_PORT_MAX_DF = 500


def q32_dedup_simhash(spark, sf_dir):
    """SimHash near-dup (L3), oracle-portable family
    (functions/dedup.py:simhash32_portable): the exact bit-vote
    pipeline over md5-derived 32-bit token fingerprints, banded 4×8
    bits — signatures, band keys, and hamming distances all replay in
    DuckDB, so this key is fully value-hash oracled (r8; previously
    rows-only under xxhash64). Pigeonhole recall is exact at hamming
    ≤ 3; the 64-bit xxhash64 production family keeps serving q52's
    exact-twin recall gate."""
    corpus = _planted_corpus(spark, sf_dir)
    sigs = D.simhash32_portable(corpus, "text", "doc_id")
    return D.simhash_near_pairs(corpus, "text", "doc_id",
                                max_hamming=SIMHASH_PORT_HAMMING,
                                band_bits=8, sigs=sigs, sig_bits=32,
                                max_df=SIMHASH_PORT_MAX_DF)


def _sql_simhash32_pairs() -> str:
    """DuckDB replay of the portable 32-bit SimHash banding over the
    planted corpus. Tokens mirror dedup.tokens_expr (lower+trim+split,
    empty tokens vote nothing); bit i of the signature is set iff
    tokens with fingerprint bit i = 1 strictly outnumber half the
    valid-token count (2·sum > n, ties down) — the simhash() rule."""
    bits = ",\n       ".join(
        f"sum((h >> {i}) & 1) AS b{i}" for i in range(32)
    )
    packed = " + ".join(
        f"(CASE WHEN 2 * coalesce(b{i}, 0) > n THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(32)
    )
    bands = ", ".join(
        f"struct_pack(band := {b}, key := (sig >> {8 * b}) & 255)"
        for b in range(4)
    )
    return f"""
WITH corpus AS ({SQL_PLANTED}),
toks AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS w
  FROM corpus),
hashed AS (
  SELECT doc,
         CASE WHEN w IS NULL OR w = '' THEN NULL
              ELSE ('0x' || substr(md5(w), 1, 8))::BIGINT END AS h
  FROM toks),
votes AS (
  SELECT doc, count(h)::BIGINT AS n,
       {bits}
  FROM hashed GROUP BY doc),
sigs AS (SELECT doc, ({packed})::BIGINT AS sig FROM votes),
banded0 AS (
  SELECT doc, sig, c.band, c.key
  FROM sigs, unnest([{bands}]) t(c)),
hot AS (
  SELECT band, key FROM banded0 GROUP BY band, key
  HAVING count(*) > {SIMHASH_PORT_MAX_DF}),
banded AS (
  SELECT doc, sig, band, key FROM banded0 b0
  WHERE NOT EXISTS (SELECT 1 FROM hot
                    WHERE hot.band = b0.band AND hot.key = b0.key))
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_PORT_HAMMING}
"""


SQL_Q32 = _sql_simhash32_pairs()


def q33_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup (L4) on the planted corpus
    (memoized frame shared with its cluster consumers q68/q69)."""
    return _jaccard_pairs_shared(spark, sf_dir)


SQL_Q33 = f"""
WITH corpus AS ({SQL_PLANTED}),
words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc, shingle FROM (
    SELECT doc, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc, array_to_string(w, ' ') AS shingle FROM words WHERE len(w) < 3)),
sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       {sql_rnd('inter::DOUBLE / (sa.sz + sb.sz - inter)', 4)} AS jaccard
FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
WHERE {sql_rnd('inter::DOUBLE / (sa.sz + sb.sz - inter)', 4)} >= {JACCARD_TAU}
"""


# Exact-jaccard pair frame shared by its consumers (q33 demo, q68
# clusters, q69 apply) — identical pipeline, identical corpus; cached
# and memoized per (session, sf_dir) like _minhash_pairs_shared. Bounded:
# two ids + two numbers per near-dup pair.
@session_memo("_memo_shingle_hash_rows")
def _shingles_shared(spark, sf_dir) -> DataFrame:
    """One cached (doc, shingle-hash) frame for the whole exact-jaccard
    family (q33 via the pair memo, the max_df variant q67) — the
    shingle explode is the family's dominant shared cost."""
    corpus = _planted_corpus(spark, sf_dir)
    return D.shingle_hash_rows(corpus, "text", "doc_id", shingle_n=3).cache()


@session_memo("_memo_jaccard_pairs")
def _jaccard_pairs_shared(spark, sf_dir) -> DataFrame:
    corpus = _planted_corpus(spark, sf_dir)
    return D.ngram_jaccard_pairs(
        corpus, "text", "doc_id", shingle_n=3, threshold=JACCARD_TAU,
        shingles=_shingles_shared(spark, sf_dir),
    ).cache()


def memo_builders():
    """The session-lived cross-query memos, exposed so bench.py can
    FORCE and TIME each build as its own ``_memo_*`` line (r7 VERDICT:
    the first consumer used to absorb the whole family's build cost —
    q56 read 9 s while q33/q67/q68 read 0.07 s — which made per-query
    regressions inside a family unattributable). Each callable returns
    the memoized frame; forcing it (noop write) warms the cache every
    registry consumer then reads. The entries are the ``session_memo``
    registrations, in definition order."""
    return dict(MEMO_BUILDERS)


# DuckDB fragment producing the q33 pair set (doc_a, doc_b) — embedded
# by the cluster oracles so Spark memoization and SQL stay in lockstep.
_SQL_JAC_PAIRS = f"""
words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc, shingle FROM (
    SELECT doc, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc, array_to_string(w, ' ') AS shingle FROM words WHERE len(w) < 3)),
sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b,
         {sql_rnd('inter::DOUBLE / (sa.sz + sb.sz - inter)', 4)} AS jaccard
  FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
  WHERE {sql_rnd('inter::DOUBLE / (sa.sz + sb.sz - inter)', 4)} >= {JACCARD_TAU})
"""


# One connected-components run serves all cluster consumers (q68 map,
# q69 keep-min apply, q96 keep-best apply) — identical pair input ⇒
# identical labels. The iterative label-propagation loop is the
# family's dominant cost after the pair memo; session-lived like
# _minhash_pairs_shared (two longs per clustered doc).
@session_memo()
def _dup_clusters_shared(spark, sf_dir) -> DataFrame:
    return D.dup_clusters(_jaccard_pairs_shared(spark, sf_dir)).cache()


def q68_dup_clusters(spark, sf_dir):
    """Connected components over the q33 near-dup pairs: each involved
    document mapped to its cluster representative (min doc id) — the
    LSH→CC composition every 100 TB dedup pipeline runs between "pair
    list" and "keep one per cluster"."""
    return _dup_clusters_shared(spark, sf_dir)


SQL_Q68 = f"""
WITH RECURSIVE corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(doc, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.doc, e.d FROM reach w JOIN edges e ON e.s = w.r)
SELECT doc AS doc_id, min(r)::BIGINT AS rep FROM reach GROUP BY doc
"""


def q69_dedup_apply(spark, sf_dir):
    """Near-dup dedup applied: the planted corpus with every cluster
    member except the representative dropped (anti join against the
    bounded drop list)."""
    corpus = _planted_corpus(spark, sf_dir)
    clusters = _dup_clusters_shared(spark, sf_dir)
    kept = D.dedup_apply(corpus, clusters, "doc_id")
    return kept.select("doc_id", F.md5("text").alias("md5"))


SQL_Q69 = f"""
WITH RECURSIVE corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(doc, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.doc, e.d FROM reach w JOIN edges e ON e.s = w.r),
clusters AS (
  SELECT doc AS doc_id, min(r) AS rep FROM reach GROUP BY doc)
SELECT c.doc_id, md5(c.text) AS md5
FROM corpus c
WHERE c.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> rep)
"""


def q149_soft_dedup(spark, sf_dir):
    """Soft deduplication weights (functions/dedup.py:
    soft_dedup_weights, r9; SoftDeDup, He et al. 2024,
    arXiv:2407.06654): every member of a k-document near-dup cluster
    gets sampling weight 1/k instead of being dropped — the q68
    cluster map's third consumer beside keep-one (q69) and keep-best
    (q96), and the policy modern pipelines prefer when hard removal
    costs diversity. Corpus row count is preserved; the weight is one
    rounded division from an exact BIGINT size. Fully value-hash
    oracled."""
    corpus = _planted_corpus(spark, sf_dir)
    clusters = _dup_clusters_shared(spark, sf_dir)
    return D.soft_dedup_weights(corpus, clusters, "doc_id").select(
        "doc_id", "cluster_size", "sample_weight"
    )


SQL_Q149 = f"""
WITH RECURSIVE corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(doc, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.doc, e.d FROM reach w JOIN edges e ON e.s = w.r),
clusters AS (
  SELECT doc AS doc_id, min(r) AS rep FROM reach GROUP BY doc),
csizes AS (
  SELECT rep, count(*)::BIGINT AS sz FROM clusters GROUP BY rep),
member AS (
  SELECT c.doc_id, s.sz FROM clusters c JOIN csizes s USING (rep))
SELECT corpus.doc_id,
       coalesce(m.sz, 1)::BIGINT AS cluster_size,
       {sql_rnd('1.0 / coalesce(m.sz, 1)', 6)} AS sample_weight
FROM corpus LEFT JOIN member m ON corpus.doc_id = m.doc_id
"""


PR_ITERS, PR_DAMPING = 3, 0.85


def q158_dup_pagerank(spark, sf_dir):
    """PageRank over the near-dup pair graph (functions/dedup.py:
    pair_pagerank, r9): which documents are template HUBS — tied to
    many well-connected near-dups — vs isolated-pair members, which
    cluster size alone (q68/q149) can't distinguish. 3 damped
    power-iteration rounds unrolled declaratively over the q33 pair
    memo (edge-keyed join + dst-keyed combinable agg per round — a
    Pregel round's exact shape); every rank pre-rounds at 8 per step
    (the q72 Lloyd ladder on a graph walk); node count rides a
    broadcast one-row frame, no driver collect. Fully value-hash
    oracled."""
    pairs = _jaccard_pairs_shared(spark, sf_dir)
    return D.pair_pagerank(pairs, iters=PR_ITERS, damping=PR_DAMPING)


def _sql_pagerank() -> str:
    d = repr(float(PR_DAMPING))
    steps = []
    prev = "p0"
    for i in range(1, PR_ITERS + 1):
        steps.append(f"""c{i} AS (
  SELECT e.dst AS doc_id,
         {sql_rnd(f"sum({sql_rnd(f'p.pr / d.outdeg', 8)})", 8)} AS inw
  FROM e JOIN {prev} p ON p.doc_id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst),
p{i} AS (
  SELECT n0.doc_id,
         {sql_rnd(f"(1.0 - {d}) / nn.n + {d} * coalesce(c{i}.inw, 0.0)", 8)}
           AS pr
  FROM nodes n0 LEFT JOIN c{i} USING (doc_id), nn)""")
        prev = f"p{i}"
    chain = ",\n".join(steps)
    return f"""
WITH corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
nodes AS (SELECT DISTINCT src AS doc_id FROM e),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
p0 AS (SELECT doc_id, {sql_rnd('1.0 / nn.n', 8)} AS pr FROM nodes, nn),
{chain}
SELECT doc_id, {sql_rnd('pr', 6)} AS pagerank FROM {prev}
"""


SQL_Q158 = _sql_pagerank()


JACCARD_MAX_DF = 8


def q67_jaccard_maxdf(spark, sf_dir):
    """q33 with the `max_df` hot-shingle cap engaged (the scale lever
    that bounds the candidate join): shingles appearing in more than
    JACCARD_MAX_DF documents are dropped from the intersection join,
    while union sizes keep the pre-cap counts — so jaccard can only
    decrease and no false positives appear. The oracle mirrors the
    document-frequency cap exactly, driver-checking the contract that
    dedup.py:222-236 previously only documented."""
    corpus = _planted_corpus(spark, sf_dir)
    return D.ngram_jaccard_pairs(corpus, "text", "doc_id", shingle_n=3,
                                 threshold=JACCARD_TAU,
                                 max_df=JACCARD_MAX_DF,
                                 shingles=_shingles_shared(spark, sf_dir))


SQL_Q67 = f"""
WITH corpus AS ({SQL_PLANTED}),
words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc, shingle FROM (
    SELECT doc, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc, array_to_string(w, ' ') AS shingle FROM words WHERE len(w) < 3)),
sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) > {JACCARD_MAX_DF}),
kept AS (
  SELECT doc, shingle FROM sh
  WHERE shingle NOT IN (SELECT shingle FROM hot)),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       {sql_rnd('inter::DOUBLE / (sa.sz + sb.sz - inter)', 4)} AS jaccard
FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
WHERE {sql_rnd('inter::DOUBLE / (sa.sz + sb.sz - inter)', 4)} >= {JACCARD_TAU}
"""


def q56_lsh_jaccard(spark, sf_dir):
    """LSH-prefiltered exact Jaccard (L4 scale path): MinHash banding
    generates candidates, exact Jaccard verifies only those pairs.
    This is the composition q33 documents for 100 TB — q33's shared-
    shingle join is quadratic when the shingle vocabulary saturates
    (measured 34x wall at 10x docs on the synthetic corpus), while
    this stays near-linear. Same oracle as q33: banding recall at the
    gate similarities (min jaccard 0.73, P(miss) <= 0.5%/pair,
    deterministic fixed-seed hashes) reproduces the exact pair set —
    verified equal at sf0.001 and sf0.01."""
    corpus = _planted_corpus(spark, sf_dir)
    return D.lsh_jaccard_pairs(corpus, "text", "doc_id", shingle_n=3,
                               threshold=JACCARD_TAU,
                               shingles=_shingles_shared(spark, sf_dir),
                               candidates=_minhash_pairs_shared(spark, sf_dir))



def q78_dup_rate_by_source(spark, sf_dir):
    """Cross-source duplicate-leakage matrix: how many near-dup pairs
    connect each (source, source) bucket, and at what average
    similarity — the report a corpus curator reads to find which dumps
    plagiarize each other before picking dedup order. Composes the
    memoized q33 pair frame with a broadcast source lookup (planted
    ids map back to their base document's source)."""
    pairs = _jaccard_pairs_shared(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")

    def base(c):
        return F.when(
            F.col(c) >= PLANT_OFFSET, F.col(c) - PLANT_OFFSET
        ).otherwise(F.col(c))

    sa = docs.select(F.col("doc_id").alias("_ida"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("_idb"), F.col("source").alias("src_b"))
    j = (
        pairs.withColumn("_ida", base("doc_a"))
        .withColumn("_idb", base("doc_b"))
        .join(F.broadcast(sa), "_ida")
        .join(F.broadcast(sb), "_idb")
    )
    return (
        j.select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
            "jaccard",
        )
        .groupBy("src_lo", "src_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            rnd(F.avg("jaccard"), 4).alias("avg_jaccard"),
        )
    )


SQL_Q78 = f"""
WITH corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
sel AS (
  SELECT least(sa.source, sb.source) AS src_lo,
         greatest(sa.source, sb.source) AS src_hi,
         p.jaccard
  FROM pairs p
  JOIN documents sa ON sa.doc_id =
    CASE WHEN p.doc_a >= {PLANT_OFFSET} THEN p.doc_a - {PLANT_OFFSET} ELSE p.doc_a END
  JOIN documents sb ON sb.doc_id =
    CASE WHEN p.doc_b >= {PLANT_OFFSET} THEN p.doc_b - {PLANT_OFFSET} ELSE p.doc_b END)
SELECT src_lo, src_hi, count(*)::BIGINT AS n_pairs,
       {sql_rnd('avg(jaccard)', 4)} AS avg_jaccard
FROM sel GROUP BY 1, 2
"""


WINNOW_K = 3
WINNOW_W = 4


def q79_winnow_fingerprints(spark, sf_dir):
    """Per-document winnowing fingerprint stats (MOSS positional
    fingerprinting — functions/dedup.py:winnow_fingerprints): gram
    count, fingerprint count, and min/max fingerprint per document.
    md5-derived hashes make this the dedup-family member whose VALUES
    are fully cross-engine (minhash/simhash are rows-only)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fps = D.winnow_fingerprints(docs, "text", "doc_id",
                                k=WINNOW_K, window=WINNOW_W)
    grams = (
        docs.select(
            "doc_id",
            (F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) - (WINNOW_K - 1))
            .cast("long")
            .alias("n_grams"),
        )
    )
    agg = fps.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )
    return grams.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_fp"),
        "fp_min",
        "fp_max",
    )


# The winnowing pipeline as a reusable DuckDB fragment: words with
# positions via a lateral range over the split array, k-grams from
# array slices, md5-hex hashes, per-window minima over complete
# windows only — the exact twin of winnow_fingerprints.
def _sql_winnow(corpus: str, out: str) -> str:
    return f"""{out}_v AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM {corpus}),
{out}_g AS (
  SELECT doc, i - 1 AS pos,
         CAST(('0x' || substr(md5(array_to_string(w[i:i+{WINNOW_K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc, w, unnest(range(1, len(w) - {WINNOW_K - 2})) AS i
        FROM {out}_v)),
{out}_w AS (
  SELECT doc,
         min(h) OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp,
         row_number() OVER (PARTITION BY doc ORDER BY pos) AS rk,
         count(*) OVER (PARTITION BY doc) AS n
  FROM {out}_g),
{out} AS (
  SELECT DISTINCT doc, fp FROM {out}_w WHERE rk <= n - {WINNOW_W - 1})"""


SQL_Q79 = f"""
WITH {_sql_winnow('documents', 'fps')},
grams AS (
  SELECT doc_id, (len(string_split_regex(lower(trim(text)), '\\s+')) - {WINNOW_K - 1})::BIGINT AS n_grams
  FROM documents),
agg AS (
  SELECT doc, count(*)::BIGINT AS n_fp, min(fp) AS fp_min, max(fp) AS fp_max
  FROM fps GROUP BY doc)
SELECT g.doc_id, g.n_grams,
       coalesce(a.n_fp, 0)::BIGINT AS n_fp, a.fp_min, a.fp_max
FROM grams g LEFT JOIN agg a ON a.doc = g.doc_id
"""


def q80_winnow_twin_overlap(spark, sf_dir):
    """Winnowing as a dedup detector: every planted twin (same text +
    a per-doc suffix) must share most fingerprints with its base —
    per-pair overlap counts, fully value-checked cross-engine. The
    suffix only perturbs the final windows, so the overlap fraction
    stays near 1 while distinct documents share almost nothing."""
    corpus = _planted_corpus(spark, sf_dir)
    fps = D.winnow_fingerprints(corpus, "text", "doc_id",
                                k=WINNOW_K, window=WINNOW_W)
    base = fps.where(F.col("doc") < PLANT_OFFSET).select(
        F.col("doc").alias("doc_id"), F.col("fp")
    )
    twin = fps.where(F.col("doc") >= PLANT_OFFSET).select(
        (F.col("doc") - PLANT_OFFSET).alias("doc_id"),
        F.col("fp").alias("fp_t"),
    )
    nb = base.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    nt = twin.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_twin"))
    common = (
        base.join(twin, (base["doc_id"] == twin["doc_id"]) & (F.col("fp") == F.col("fp_t")))
        .groupBy(base["doc_id"].alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        nb.join(nt, "doc_id")
        .join(common, "doc_id", "left")
        .select(
            "doc_id",
            "n_base",
            "n_twin",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            rnd(
                F.coalesce("n_common", F.lit(0)).cast("double")
                / F.col("n_base").cast("double"),
                4,
            ).alias("overlap"),
        )
    )


SQL_Q80 = f"""
WITH corpus AS ({SQL_PLANTED}),
{_sql_winnow('corpus', 'fps')},
base AS (SELECT doc AS doc_id, fp FROM fps WHERE doc < {PLANT_OFFSET}),
twin AS (SELECT doc - {PLANT_OFFSET} AS doc_id, fp FROM fps WHERE doc >= {PLANT_OFFSET}),
nb AS (SELECT doc_id, count(*)::BIGINT AS n_base FROM base GROUP BY doc_id),
nt AS (SELECT doc_id, count(*)::BIGINT AS n_twin FROM twin GROUP BY doc_id),
common AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_common
  FROM base b JOIN twin t ON t.doc_id = b.doc_id AND t.fp = b.fp
  GROUP BY b.doc_id)
SELECT nb.doc_id, nb.n_base, nt.n_twin,
       coalesce(c.n_common, 0)::BIGINT AS n_common,
       {sql_rnd('coalesce(c.n_common, 0)::DOUBLE / nb.n_base', 4)} AS overlap
FROM nb JOIN nt USING (doc_id) LEFT JOIN common c USING (doc_id)
"""


def q81_decontaminate_winnow(spark, sf_dir):
    """Winnow-based decontamination (the positional twin of q62's
    shingle-set version): training docs flagged only on evidence of a
    CONTIGUOUS shared run with the eval suite (doc_id % 50 == 0), with
    the count of shared fingerprints. Fully value-hash oracled —
    the md5-hex winnowing pipeline replays in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 50 == 0)
    tr = docs.where(F.col("doc_id") % 50 != 0)
    return D.decontaminate_winnow(tr, ev, "text", "doc_id",
                                  k=WINNOW_K, window=WINNOW_W)


SQL_Q81 = f"""
WITH {_sql_winnow('documents', 'fps')},
ev AS (SELECT DISTINCT fp FROM fps WHERE doc % 50 = 0)
SELECT f.doc AS doc_id, count(*)::BIGINT AS n_shared_fps
FROM fps f JOIN ev USING (fp)
WHERE f.doc % 50 <> 0
GROUP BY f.doc
"""


# Eval split for the pipeline gate: doc_id % 49 — unlike the % 50
# split of q81, 49 does not divide PLANT_OFFSET, so the planted twin
# of an eval document LANDS IN TRAIN and the contamination stage must
# catch it as a verbatim copy (the realistic leak).
PIPELINE_EVAL_MOD = 49


def _pipeline_corpus(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dups = docs.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(dups)


def q85_curation_funnel(spark, sf_dir):
    """End-to-end curation funnel (quality → exact dedup → winnow
    decontamination) over a planted corpus with exact duplicates AND
    verbatim eval leaks; per-(source, stage) doc/token totals — the
    report a curator reads before mixing. Composition gate for
    q70 + q30 + q81 running as ONE Catalyst plan."""
    from .functions import pipeline as P

    corpus = _pipeline_corpus(spark, sf_dir)
    train = corpus.where(
        F.pmod(F.col("doc_id"), F.lit(PIPELINE_EVAL_MOD)) != 0
    )
    eval_df = (
        _t(spark, sf_dir, "documents")
        .where(F.pmod(F.col("doc_id"), F.lit(PIPELINE_EVAL_MOD)) == 0)
        .select("doc_id", "text")
    )
    funnel = P.curate_funnel(train, eval_df, "text", "doc_id", "source")
    return funnel.groupBy("source", "stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
    )


UNIGRAM_VOCAB = 20


# One corpus unigram-LM scoring (q84's exact chain) serves q84, q87's
# per-source deciles, q123's DoReMi reference model, and q133's
# per-source perplexity table; the Stupid-Backoff bigram LM likewise
# serves q95 and q123's proxy model. Each consumer previously re-ran
# the identical train+score pipeline (guide §1.2). Bounded: 3 scalars
# per document. Session-lived like _minhash_pairs_shared; bench times the
# builds as their own ``_memo_unigram_lm`` / ``_memo_bigram_lm`` lines.
@session_memo("_memo_unigram_lm")
def _unigram_lm_shared(spark, sf_dir) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TX.unigram_logprob(
        docs, "text", "doc_id", vocab_size=UNIGRAM_VOCAB
    ).cache()


@session_memo("_memo_bigram_lm")
def _bigram_lm_shared(spark, sf_dir) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TX.bigram_logprob(docs, "text", "doc_id").cache()


def q84_unigram_logprob(spark, sf_dir):
    """Unigram-LM fluency scores (the KenLM-perplexity stand-in of
    CCNet quality filtering): corpus-trained top-20 vocabulary with a
    pooled <unk> mass; every document's mean token log-prob and
    perplexity value-checked against the SQL replay. 11 of the 31
    corpus tokens fall outside the vocabulary, so the <unk> path is
    live in the gate, not just in unit tests. Since r12 the scored
    frame is session-memoized (``_unigram_lm_shared``) — q87/q123/
    q133 previously re-ran the identical LM train + score chain."""
    return _unigram_lm_shared(spark, sf_dir)


SQL_Q84 = f"""
WITH toks AS (
  SELECT doc_id AS doc, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
cnts AS (SELECT w, count(*)::DOUBLE AS c FROM toks GROUP BY w),
tot AS (SELECT sum(c) AS n FROM cnts),
vocab AS (SELECT w, c FROM cnts ORDER BY c DESC, w ASC LIMIT {UNIGRAM_VOCAB}),
unk AS (
  SELECT coalesce(sum(c), 0) AS cu FROM cnts
  WHERE w NOT IN (SELECT w FROM vocab)),
scored AS (
  SELECT t.doc, {sql_rnd('ln(coalesce(v.c, unk.cu) / tot.n)', 8)} AS lp
  FROM toks t LEFT JOIN vocab v USING (w), tot, unk),
agg AS (
  SELECT doc, count(*)::BIGINT AS n_tokens, {sql_rnd('avg(lp)', 4)} AS avg_logp
  FROM scored GROUP BY doc)
SELECT doc AS doc_id, n_tokens, avg_logp,
       {sql_rnd('exp(-avg_logp)', 4)} AS ppl
FROM agg
"""


def q87_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3):
    rank every document by its unigram-LM perplexity WITHIN its
    source and cut each source into deciles — the stratification a
    curator samples from ('head/middle/tail' quality tiers, here 10
    tiers). Decile assignment is ntile over (ppl, doc_id) — fully
    deterministic — and the per-(source, decile) doc counts and ppl
    ranges are value-checked against the SQL replay."""
    docs = _t(spark, sf_dir, "documents")
    ppl = _unigram_lm_shared(spark, sf_dir)
    j = docs.select("doc_id", "source").join(ppl, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("ppl").asc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ppl").alias("ppl_lo"),
            F.max("ppl").alias("ppl_hi"),
        )
    )


SQL_Q87 = f"""
WITH p AS ({SQL_Q84}),
j AS (
  SELECT d.doc_id, d.source, p.ppl
  FROM documents d JOIN p USING (doc_id)),
t AS (
  SELECT source, ppl,
         ntile(10) OVER (PARTITION BY source
                         ORDER BY ppl ASC, doc_id ASC) AS decile
  FROM j)
SELECT source, decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
       min(ppl) AS ppl_lo, max(ppl) AS ppl_hi
FROM t GROUP BY source, decile
"""


BPE_MERGES = 10


def q90_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016):
    10 merge rounds over the corpus word-frequency vocab — FULLY
    value-hash oracled (r8; previously rows-only): the DuckDB twin
    unrolls all 10 rounds as a CTE chain — pair explode-agg,
    (count DESC, pair ASC) argmax, then the greedy left-to-right
    vocab rewrite replayed with ``list_reduce`` (the accumulator's
    last symbol merges with the next element exactly like the Arrow
    rewrite's scan-and-skip loop). The merge table is additionally
    pinned against a single-machine reference implementation by
    tests/test_llm_ops.py::test_bpe_train_matches_reference."""
    docs = _t(spark, sf_dir, "documents")
    # batched merge selection (prefix-cut, see bpe_train): same merge
    # table as batch=1 — pinned by the batched-parity pytest — in a
    # fraction of the driver round-trips
    merges = TX.bpe_train(docs, "text", num_merges=BPE_MERGES, batch=16)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, sym_a string, sym_b string, pair_count long",
    )


def _sql_bpe_merges(num_merges: int) -> str:
    """DuckDB replay of the full sequential BPE training loop. The
    rewrite lambda reproduces bpe_train's greedy left-to-right pass:
    the accumulator string (chr(31)-separated symbols — U+001F cannot
    appear in whitespace-split words) merges its LAST symbol with the
    incoming element when they equal the round's (a, b), which is
    exactly the scan-and-skip rule (a freshly-merged symbol can never
    re-merge within the same round because it no longer equals a)."""
    sep = "chr(31)"
    parts = [f"""
WITH wc AS (
  SELECT w, count(*)::BIGINT AS c FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w),
v0 AS (
  SELECT c, list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS s
  FROM wc)"""]
    for r in range(1, num_merges + 1):
        parts.append(f""",
p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, sum(c)::BIGINT AS pc
  FROM v{r - 1}, unnest(range(1, len(s))) t(i)
  GROUP BY 1, 2),
m{r} AS (SELECT a, b, pc FROM p{r} ORDER BY pc DESC, a ASC, b ASC LIMIT 1)""")
        if r < num_merges:
            parts.append(f""",
v{r} AS (
  SELECT c, string_split(list_reduce(s, (acc, x) ->
    CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, {sep} || m.a))
         THEN acc || m.b ELSE acc || {sep} || x END), {sep}) AS s
  FROM v{r - 1}, m{r} m)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {r}::BIGINT AS rank, a AS sym_a, b AS sym_b,"
        f" pc AS pair_count FROM m{r}"
        for r in range(1, num_merges + 1)
    )
    return "".join(parts) + "\n" + union


SQL_Q90 = _sql_bpe_merges(BPE_MERGES)


def q91_bpe_first_merge(spark, sf_dir):
    """Oracled degenerate-config gate for the BPE trainer (the
    q53/q77 pattern): with num_merges=1 the symbols are still single
    characters, so the whole distributed pipeline — word-frequency
    agg, weighted pair explode-agg, (count DESC, pair ASC) argmax —
    is SQL-replayable character-for-character. The iterative rewrite
    beyond merge 1 is pinned by the exact reference-implementation
    parity pytest."""
    docs = _t(spark, sf_dir, "documents")
    merges = TX.bpe_train(docs, "text", num_merges=1)
    return spark.createDataFrame(
        [(1, a, b, c) for a, b, c in merges],
        "rank long, sym_a string, sym_b string, pair_count long",
    )


SQL_Q91 = """
WITH wc AS (
  SELECT w, count(*)::BIGINT AS c FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w),
p AS (
  SELECT substr(w, i, 1) AS sym_a, substr(w, i + 1, 1) AS sym_b,
         sum(c)::BIGINT AS pc
  FROM wc, unnest(range(1, length(w))) t(i)
  WHERE length(w) >= 2 GROUP BY 1, 2)
SELECT 1::BIGINT AS rank, sym_a, sym_b, pc AS pair_count
FROM p ORDER BY pc DESC, sym_a ASC, sym_b ASC LIMIT 1
"""


def q89_source_diversity(spark, sf_dir):
    """Per-source lexical diversity report (the self-repetition /
    mode-collapse check a curator runs per dump before mixing):
    3-gram occurrence totals, distinct counts, type-token ratio, and
    the hottest shingle's share. One (source, shingle) agg — the
    corpus moves once; per-source rollup is over the tiny distinct
    frame."""
    docs = _t(spark, sf_dir, "documents")
    sh = D.shingle_rows(docs, "text", "doc_id", n=3, distinct=False)
    j = sh.join(
        docs.select(F.col("doc_id").alias("doc"), "source"), "doc"
    )
    per = j.groupBy("source", "shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    nd = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    agg = per.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_shingles"),
        F.count(F.lit(1)).alias("n_distinct"),
        rnd(F.count(F.lit(1)) / F.sum("c"), 4).alias("uniq_ratio"),
        rnd(F.max("c") / F.sum("c"), 4).alias("top_share"),
    )
    return nd.join(agg, "source").select(
        "source", "n_docs", "n_shingles", "n_distinct",
        "uniq_ratio", "top_share",
    )


SQL_Q89 = f"""
WITH words AS (
  SELECT doc_id AS doc, source, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
sh AS (
  SELECT doc, source, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM words WHERE len(w) >= 3
  UNION ALL
  SELECT doc, source, array_to_string(w, ' ') AS shingle
  FROM words WHERE len(w) < 3),
per AS (
  SELECT source, shingle, count(*)::BIGINT AS c
  FROM sh GROUP BY source, shingle),
nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source)
SELECT n.source, n.n_docs,
       sum(c)::BIGINT AS n_shingles, count(*)::BIGINT AS n_distinct,
       {sql_rnd('count(*)::DOUBLE / sum(c)', 4)} AS uniq_ratio,
       {sql_rnd('max(c)::DOUBLE / sum(c)', 4)} AS top_share
FROM per p JOIN nd n USING (source)
GROUP BY n.source, n.n_docs
"""


BLOOM_M = 1 << 16
BLOOM_K = 4


def q88_bloom_membership(spark, sf_dir):
    """Bloom-filter membership (Bloom 1970): build the packed bitmap
    over half the corpus (even doc_ids), probe EVERY document — the
    broadcastable accelerator for incremental dedup / decontamination
    when the reference set is too big to ship as an exact set. The
    md5 hash scheme is engine-portable, so the oracle replays the
    exact per-document verdict via a position-set join (bloom
    semantics: a key is 'present' iff all k of its bit positions are
    set — i.e. each position is in the union of build positions).
    Zero false negatives by construction; FP odds at this fill
    (~n·k/m = 3%) are ≈ (0.03)^4 ≈ 1e-6 per probe."""
    from .operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    bloom = SK.bloom_build(ref, "text", m_bits=BLOOM_M, k_hashes=BLOOM_K)
    return SK.bloom_probe(
        docs.select("doc_id", "text"), "text", bloom,
        m_bits=BLOOM_M, k_hashes=BLOOM_K,
    ).select("doc_id", "in_bloom")


_BLOOM_J = ", ".join(f"('{j}')" for j in range(BLOOM_K))

SQL_Q88 = f"""
WITH ref AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
pos AS (
  SELECT DISTINCT ('0x' || substr(md5(j || ':' || text), 1, 8))::BIGINT
                  % {BLOOM_M} AS p
  FROM ref, (VALUES {_BLOOM_J}) t(j)),
probe AS (
  SELECT doc_id,
         ('0x' || substr(md5(j || ':' || text), 1, 8))::BIGINT
         % {BLOOM_M} AS p
  FROM documents, (VALUES {_BLOOM_J}) t(j))
SELECT d.doc_id, (count(s.p) = {BLOOM_K}) AS in_bloom
FROM probe d LEFT JOIN pos s USING (p)
GROUP BY d.doc_id
"""


DSIR_BUCKETS = 1024


def q83_dsir_weights(spark, sf_dir):
    """DSIR importance weights: every document scored by how target-
    like its hashed unigram+bigram features are, target = the src0
    slice of the corpus. The full weight column (all docs, rounded) is
    value-checked against the SQL replay of the smoothed log-ratio
    model — hash, smoothing, and summation all cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    return TX.dsir_weights(
        docs, None, "text", "doc_id", n_buckets=DSIR_BUCKETS,
        target_pred=F.col("source") == "src0",
    )


def _sql_hashed_grams(words: str, out: str) -> str:
    """(doc, bucket) per gram occurrence — unigrams + bigrams of the
    ``\\s+``-split word array CTE ``words`` (columns doc, w)."""
    return f"""{out} AS (
  SELECT doc, ('0x' || substr(md5(gram), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc, w[i] AS gram
    FROM (SELECT doc, w, unnest(range(1, len(w) + 1)) AS i FROM {words})
    UNION ALL
    SELECT doc, w[i] || ' ' || w[i + 1] AS gram
    FROM (SELECT doc, w, unnest(range(1, len(w))) AS i FROM {words})))"""


SQL_Q83 = f"""
WITH rw AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
tw AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE source = 'src0'),
{_sql_hashed_grams('rw', 'rg')},
{_sql_hashed_grams('tw', 'tg')},
rc AS (SELECT b, count(*)::DOUBLE AS cr FROM rg GROUP BY b),
tc AS (SELECT b, count(*)::DOUBLE AS ct FROM tg GROUP BY b),
tots AS (
  SELECT (SELECT sum(cr) FROM rc) AS tr, (SELECT sum(ct) FROM tc) AS tt),
wt AS (
  SELECT rc.b,
         {sql_rnd(f'ln((coalesce(tc.ct, 0) + 1) / (tots.tt + {DSIR_BUCKETS}))'
                  f' - ln((rc.cr + 1) / (tots.tr + {DSIR_BUCKETS}))', 8)} AS w
  FROM rc LEFT JOIN tc USING (b), tots),
db AS (SELECT doc, b, count(*)::DOUBLE AS c FROM rg GROUP BY doc, b),
lw AS (
  SELECT doc, {sql_rnd('sum(c * w)', 4)} AS logw
  FROM db JOIN wt USING (b) GROUP BY doc)
SELECT d.doc_id, coalesce(lw.logw, 0.0) AS logw
FROM documents d LEFT JOIN lw ON lw.doc = d.doc_id
"""


def q57_stratified_sample(spark, sf_dir):
    """Deterministic per-source sampling (training-mix construction):
    keep 100% of one source, thin the others. Engine-portable integer
    hash (hash_split's scheme), so DuckDB reproduces the exact rows."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.stratified_sample(
        docs, "source", "doc_id",
        {"src0": 1.0, "src1": 0.25, "src2": 0.5, "src3": 0.1},
    )
    return out.select("doc_id", "source")


SQL_Q57 = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         (((doc_id % 1000003) * 2654435761) % 10000 + 10000) % 10000 AS bucket
  FROM documents)
WHERE (source = 'src0' AND bucket < 10000)
   OR (source = 'src1' AND bucket < 2500)
   OR (source = 'src2' AND bucket < 5000)
   OR (source = 'src3' AND bucket < 1000)
"""


def q58_knn_classify(spark, sf_dir):
    """k-NN majority-vote label assignment over embeddings (the eval /
    label-propagation application of similarity search)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    return S.knn_classify(emb, queries, "vec_id", "embedding", "label",
                          k=ANN_K)


SQL_Q58 = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
n AS (SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
         {sql_rnd('list_dot_product(q.e, c.e) / (q.nrm * c.nrm)', 4)} AS cosine
  FROM n q JOIN n c ON c.vec_id != q.vec_id
  WHERE q.vec_id <= {ANN_NUM_QUERIES}),
topk AS (
  SELECT query_id, neighbor_id, nlabel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored)
  WHERE rank <= {ANN_K}),
votes AS (
  SELECT query_id, nlabel, count(*)::BIGINT AS votes
  FROM topk GROUP BY 1, 2)
SELECT query_id, nlabel AS pred_label, votes FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, nlabel ASC) AS rk
  FROM votes)
WHERE rk = 1
"""



def q34_cosine_dup(spark, sf_dir):
    """Embedding cosine near-dup pairs (L5)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_dup_pairs(emb, "vec_id", "embedding", COSINE_DUP_TAU)


SQL_Q34 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_rnd('list_dot_product(a.e, b.e) / (a.nrm * b.nrm)', 4)} AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {sql_rnd('list_dot_product(a.e, b.e) / (a.nrm * b.nrm)', 4)} >= {COSINE_DUP_TAU}
"""


def q35_ann_topk(spark, sf_dir):
    """Brute-force ANN top-k (L6): first N vec_ids are the query set."""
    return _ann_brute_shared(spark, sf_dir)


SQL_Q35 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_rnd('list_dot_product(q.e, c.e) / (q.nrm * c.nrm)', 4)} AS cosine
  FROM n q JOIN n c ON c.vec_id != q.vec_id
  WHERE q.vec_id <= {ANN_NUM_QUERIES})
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored)
WHERE rank <= {ANN_K}
"""


KMEANS_K = 8
KMEANS_ITERS = 2
EMB_DIM = 64


# One Lloyd training + ONE corpus assignment serve the whole base-
# embedding k-means family — q72 (the twin itself), q86 (cluster
# top-terms), q146 (prototype prune), q151 (silhouette — centroids
# only, it ranks top-2 itself), and the portable IVF route q142/q194
# (ann_topk_ivf_portable calls kmeans_centroids with the IDENTICAL
# (k=8, iters=2, rnd4/rnd6) arguments). Before r12 each consumer
# re-ran the full iterative Lloyd chain (guide §1.2: don't compute
# things you throw away). Bounded state: k rows × dim doubles for the
# centroids, (id, cluster, cos) per vector for the assignment.
# Session-lived like _minhash_pairs_shared; bench times the build as its
# own ``_memo_kmeans_assign`` line.
@session_memo("_memo_kmeans_assign", view=lambda spark, got: got[1])
def _kmeans_shared(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    emb = _t(spark, sf_dir, "embeddings")
    # the centroid frame localCheckpoints (k rows; its LINEAGE is the
    # whole iterative Lloyd tree — consumers would otherwise re-pay
    # full-plan analysis on every reference, the _pca_shared lesson);
    # the assignment rides an ordinary cache. The centroids are cached
    # only after the assignment is built, so the assignment's cached
    # plan reads the checkpoint directly and every later consumer
    # reads the cached k rows.
    cent = S.kmeans_centroids(emb, "vec_id", "embedding",
                              k=KMEANS_K,
                              iters=KMEANS_ITERS).localCheckpoint()
    assign = S.kmeans_lloyd_exact(emb, "vec_id", "embedding",
                                  k=KMEANS_K, iters=KMEANS_ITERS,
                                  centroids=cent).cache()
    return cent.cache(), assign


def q72_kmeans_twin(spark, sf_dir):
    """Engine-reproducible Lloyd k-means (k=8, 2 iterations,
    smallest-id init): the oracled geometry gate for ivf_train's
    Arrow partial-sum production path — rounded-cosine assignment and
    rounded centroid components make every step replayable in SQL.
    Since r12 the assignment comes from the shared session training
    (``_kmeans_shared``) — same code path, same values."""
    return _kmeans_shared(spark, sf_dir)[1]


def _sql_kmeans_assign(cent: str, out: str) -> str:
    """One rounded-cosine assignment pass against centroid CTE `cent`."""
    cos = sql_rnd(
        "list_dot_product(v.e, c.c) / "
        "(sqrt(list_sum(list_transform(v.e, x -> x * x))) * "
        "sqrt(list_sum(list_transform(c.c, x -> x * x))))",
        4,
    )
    return f"""{out} AS (
  SELECT vec_id, cluster, e, cos FROM (
    SELECT v.vec_id, c.cluster, v.e, {cos} AS cos,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos} DESC, c.cluster ASC) AS rk
    FROM v CROSS JOIN {cent} c)
  WHERE rk = 1)"""


def _sql_kmeans_update(assigned: str, prev: str, out: str) -> str:
    """Rounded per-component mean update; empty clusters keep their
    previous centroid."""
    return f"""{out}_m AS (
  SELECT cluster, i, {sql_rnd('avg(e[i])', 6)} AS m
  FROM {assigned}, range(1, {EMB_DIM + 1}) t(i) GROUP BY cluster, i),
{out}_l AS (
  SELECT cluster, list(m ORDER BY i) AS c FROM {out}_m GROUP BY cluster),
{out} AS (
  SELECT p.cluster, coalesce(l.c, p.c) AS c
  FROM {prev} p LEFT JOIN {out}_l l USING (cluster))"""


SQL_Q72 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
cent0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster, e AS c
  FROM v ORDER BY vec_id LIMIT {KMEANS_K}),
{_sql_kmeans_assign('cent0', 'a1')},
{_sql_kmeans_update('a1', 'cent0', 'cent1')},
{_sql_kmeans_assign('cent1', 'a2')},
{_sql_kmeans_update('a2', 'cent1', 'cent2')},
{_sql_kmeans_assign('cent2', 'a3')}
SELECT vec_id, cluster::BIGINT AS cluster, cos FROM a3
"""


JL_DIM, JL_SAMPLE_MAX = 16, 20


def q155_jl_distortion(spark, sf_dir):
    """Seeded JL random-projection distortion audit (functions/
    similarity.py:jl_project + jl_distortion_audit, r9; Achlioptas
    2003 ±1 entries): 64 → 16 dims with the projection matrix derived
    from md5 literals (the Z66/Z68 portable-hash family — any engine
    replays the exact matrix), audited as the ratio of projected to
    original squared distance over a bounded id-sample's pairs. The
    projection is one explode + broadcast cross + combinable agg
    (linear); the pairwise audit is sample²-bounded by a literal.
    Fully value-hash oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.jl_distortion_audit(emb, "vec_id", "embedding",
                                 out_dim=JL_DIM, max_id=JL_SAMPLE_MAX)


_JL_SIGN = (
    "CASE WHEN substr(md5('jl_' || i::VARCHAR || '_' || j::VARCHAR), 1, 1)"
    " IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END"
)

SQL_Q155 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id <= {JL_SAMPLE_MAX}),
comp AS (SELECT vec_id, i, e[i] AS x FROM v, range(1, {EMB_DIM + 1}) t(i)),
tt AS (
  SELECT vec_id, j, {sql_rnd(f'x * ({_JL_SIGN})', 8)} AS t
  FROM comp, range(1, {JL_DIM + 1}) t2(j)),
y AS (
  SELECT vec_id, j, {sql_rnd(f"({sql_rnd('sum(t)', 8)}) / 4.0", 8)} AS y
  FROM tt GROUP BY vec_id, j),
od AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {sql_rnd(f"sum({sql_rnd('(a.x - b.x) * (a.x - b.x)', 8)})", 6)}
           AS orig_d2
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2),
pd AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {sql_rnd(f"sum({sql_rnd('(a.y - b.y) * (a.y - b.y)', 8)})", 6)}
           AS proj_d2
  FROM y a JOIN y b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY 1, 2)
SELECT od.id_a, od.id_b, orig_d2, proj_d2,
       CASE WHEN orig_d2 > 0
            THEN {sql_rnd('proj_d2 / orig_d2', 6)} END AS distortion
FROM od JOIN pd ON od.id_a = pd.id_a AND od.id_b = pd.id_b
"""


def q151_cluster_silhouette(spark, sf_dir):
    """Per-cluster simplified silhouette (functions/similarity.py:
    cluster_silhouette, r9): centroid-based s = (b − a)/max(a, b)
    with cosine distance over the SAME oracled Lloyd geometry as
    q72/q86 — "is this clustering real?" before q86's routing or
    q146's prototypicality pruning trusts it. O(n·k) broadcast
    scoring (the q72 assignment shape), never pairwise. Fully
    value-hash oracled via the unrolled k-means CTE chain."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cluster_silhouette(emb, "vec_id", "embedding",
                                k=KMEANS_K, iters=KMEANS_ITERS,
                                centroids=_kmeans_shared(spark, sf_dir)[0])


_SIL_COS = sql_rnd(
    "list_dot_product(v.e, c.c) / "
    "(sqrt(list_sum(list_transform(v.e, x -> x * x))) * "
    "sqrt(list_sum(list_transform(c.c, x -> x * x))))",
    4,
)

SQL_Q151 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
cent0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster, e AS c
  FROM v ORDER BY vec_id LIMIT {KMEANS_K}),
{_sql_kmeans_assign('cent0', 'a1')},
{_sql_kmeans_update('a1', 'cent0', 'cent1')},
{_sql_kmeans_assign('cent1', 'a2')},
{_sql_kmeans_update('a2', 'cent1', 'cent2')},
sc AS (
  SELECT v.vec_id, c.cluster, {_SIL_COS} AS cos,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {_SIL_COS} DESC, c.cluster ASC) AS rk
  FROM v CROSS JOIN cent2 c),
pt AS (
  SELECT vec_id,
         max(CASE WHEN rk = 1 THEN cluster END) AS cluster,
         max(CASE WHEN rk = 1 THEN cos END) AS cos1,
         max(CASE WHEN rk = 2 THEN cos END) AS cos2
  FROM sc WHERE rk <= 2 GROUP BY vec_id),
sil AS (
  SELECT cluster,
         {sql_rnd(
             'CASE WHEN greatest(1.0 - cos1, 1.0 - cos2) > 0 '
             'THEN (cos1 - cos2) / greatest(1.0 - cos1, 1.0 - cos2) '
             'ELSE 0.0 END', 8)} AS s
  FROM pt)
SELECT cluster::BIGINT AS cluster, count(*)::BIGINT AS n_members,
       {sql_rnd('avg(s)', 6)} AS mean_silhouette,
       min(s) AS min_silhouette
FROM sil GROUP BY cluster
"""


def q86_cluster_profile(spark, sf_dir):
    """Cluster profiling: top-3 distinctive terms per k-means cluster
    (cluster-level TF-IDF over the oracled Lloyd assignment, joined to
    the documents via the 1:1 vec_id↔doc_id testdata link) — the
    report a curator reads to route or downsample semantic clusters."""
    labels = _kmeans_shared(spark, sf_dir)[1].select(
        F.col("vec_id").alias("doc_id"), "cluster")
    docs = _t(spark, sf_dir, "documents")
    return S.cluster_top_terms(
        labels, docs, "doc_id", "text", top_k=3, num_clusters=KMEANS_K
    )


SQL_Q86 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
cent0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster, e AS c
  FROM v ORDER BY vec_id LIMIT {KMEANS_K}),
{_sql_kmeans_assign('cent0', 'a1')},
{_sql_kmeans_update('a1', 'cent0', 'cent1')},
{_sql_kmeans_assign('cent1', 'a2')},
{_sql_kmeans_update('a2', 'cent1', 'cent2')},
{_sql_kmeans_assign('cent2', 'a3')},
lab AS (SELECT vec_id AS doc_id, cluster FROM a3),
toks AS (
  SELECT d.doc_id, unnest(string_split_regex(lower(trim(d.text)), '\\s+')) AS term
  FROM documents d JOIN lab USING (doc_id)),
ct AS (
  SELECT l.cluster, t.term, count(*)::DOUBLE AS tf
  FROM toks t JOIN lab l USING (doc_id) GROUP BY 1, 2),
dfx AS (SELECT term, count(*)::DOUBLE AS df FROM ct GROUP BY term),
scored AS (
  SELECT cluster, term,
         {sql_rnd(f'tf * ln({KMEANS_K} / df)', 4)} AS score
  FROM ct JOIN dfx USING (term))
SELECT cluster::BIGINT AS cluster, rank, term, score FROM (
  SELECT cluster, term, score,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored)
WHERE rank <= 3
"""


# SemDeDup gate corpus: every base vector gets a deterministic twin at
# vec_id + offset whose direction barely moves (x → rnd(0.9x + 0.01)),
# so twin-base cosine is ≥ 0.996 while the hardest NON-twin pair in
# the data measures ≤ 0.53 (both SFs) — tau = 0.8 sits in a ≥ 0.27
# margin on each side and no rounded value can cross it.
EMB_PLANT_OFFSET = 1_000_000
SEMDEDUP_TAU = 0.8


def _planted_emb(spark, sf_dir):
    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    twins = base.select(
        (F.col("vec_id") + F.lit(EMB_PLANT_OFFSET)).alias("vec_id"),
        F.transform("e", lambda x: rnd(x * 0.9 + 0.01, 6)).alias("e"),
    )
    # localCheckpoint: cut the transform/union lineage before the
    # iterative Lloyd loop — array HOFs run interpreted with no
    # subexpression caching, so re-inlining this expression into every
    # assignment/update of every iteration multiplies the whole twin
    # pipeline (measured 15.5 s → 3.2 s at sf0.1). Gate-corpus only:
    # production semdedup inputs are parquet-backed leaf columns.
    return base.unionByName(twins).localCheckpoint(eager=True)


def q82_semdedup(spark, sf_dir):
    """SemDeDup (cluster-then-prune semantic dedup) on a planted
    corpus: every base vector has a near-identical twin (cos ≥ 0.996).
    The operator must keep every base vector and drop exactly the
    twins that landed in their base's k-means cluster — the kept flag
    of all 2N rows is value-checked against the SQL replay, and the
    twins that cross a cluster boundary (co-location is the paper's
    known recall limit) stay kept in BOTH engines."""
    corpus = _planted_emb(spark, sf_dir)
    return S.semdedup(
        corpus, "vec_id", "e",
        tau=SEMDEDUP_TAU, k=KMEANS_K, iters=KMEANS_ITERS,
    )


_SQL_SEMDEDUP_PAIR_COS = sql_rnd(
    "list_dot_product(x.e, y.e) / "
    "(sqrt(list_sum(list_transform(x.e, t -> t * t))) * "
    "sqrt(list_sum(list_transform(y.e, t -> t * t))))",
    4,
)

SQL_Q82 = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT vec_id + {EMB_PLANT_OFFSET} AS vec_id,
         list_transform(e, x -> {sql_rnd('x * 0.9 + 0.01', 6)}) AS e
  FROM base),
cent0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster, e AS c
  FROM v ORDER BY vec_id LIMIT {KMEANS_K}),
{_sql_kmeans_assign('cent0', 'a1')},
{_sql_kmeans_update('a1', 'cent0', 'cent1')},
{_sql_kmeans_assign('cent1', 'a2')},
{_sql_kmeans_update('a2', 'cent1', 'cent2')},
{_sql_kmeans_assign('cent2', 'a3')},
dropped AS (
  SELECT DISTINCT y.vec_id AS vid
  FROM a3 x JOIN a3 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE {_SQL_SEMDEDUP_PAIR_COS} >= {SEMDEDUP_TAU})
SELECT a.vec_id, a.cluster::BIGINT AS cluster,
       (d.vid IS NULL) AS kept
FROM a3 a LEFT JOIN dropped d ON a.vec_id = d.vid
"""


def q75_quantize_embeddings(spark, sf_dir):
    """Per-vector int8 affine quantization of the embedding column
    (vector-store compression: float32 → int8). Codes serialized as a
    comma string so the row is hash-comparable; scale/zero carried for
    local dequantization."""
    emb = _t(spark, sf_dir, "embeddings")
    q = S.quantize_embeddings(emb, "vec_id", "embedding", bits=8)
    return q.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("q"), lambda x: x.cast("string"))
        ).alias("q_codes"),
        "scale",
        "zero",
    )


SQL_Q75 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
m AS (
  SELECT vec_id, e, list_min(e) AS vmin, list_max(e) AS vmax,
         (list_max(e) - list_min(e)) / 255.0 AS scale
  FROM v)
SELECT vec_id,
       CASE WHEN vmax = vmin
            THEN array_to_string(list_transform(e, x -> 0), ',')
            ELSE array_to_string(
              list_transform(e, x ->
                CAST(round({sql_rnd('(x - vmin) / scale', 4)}) AS INT)),
              ',')
       END AS q_codes,
       {sql_rnd('scale', 8)} AS scale,
       {sql_rnd('vmin', 8)} AS zero
FROM m
"""


def q76_quantized_recall(spark, sf_dir):
    """Retrieval-quality gate for int8 quantization (the question that
    decides whether the 4× compression is usable): per query, how many
    of the exact top-5 cosine neighbors survive when the corpus is
    quantized and dequantized. Both rankings use rounded scores with
    deterministic tie-breaks, and the dequantized vectors are built
    from the cross-engine-identical (codes, scale, zero) of q75 — so
    the overlap counts are exactly oracle-reproducible.

    Fused single-scan plan: quantize keeps the exact vector alongside
    the codes (keep_vec), the dequantized twin is a map column on the
    same row, and ONE broadcast-queries × corpus pass scores both
    cosines per pair in one Arrow kernel stage. The two rankings are
    windows over the same query_id partitioning — one shuffle, two
    sorts — instead of two full brute-force passes."""
    emb = _t(spark, sf_dir, "embeddings")
    both = S.quantize_embeddings(
        emb, "vec_id", "embedding", keep_vec=True
    ).select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("q"),
            lambda c: c.cast("double") * F.col("scale") + F.col("zero"),
        ).alias("deq"),
    )
    q = both.where(F.col("vec_id") <= ANN_NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("deq").alias("qd"),
    )
    c = both.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("deq").alias("cd"),
    )
    # one corpus-side Arrow pass against the broadcast-collected query
    # matrix (r12, guide §4.1): the BNLJ + per-pair kernel shipped
    # every query vector once PER CORPUS ROW across the Python
    # boundary (~400 MB at bench scale); raw cosines come back and
    # ride the same JVM rnd ladder as before
    scored = S.cosine_to_queries_arrow(
        c, q, [("ce", "qe", "_cos_e"), ("cd", "qd", "_cos_q")]
    ).select(
        "query_id",
        "neighbor_id",
        rnd(F.col("_cos_e"), 4).alias("cos_e"),
        rnd(F.col("_cos_q"), 4).alias("cos_q"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cos_e").desc(), F.col("neighbor_id").asc()
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(we).alias("rk_e"),
        F.row_number().over(wq).alias("rk_q"),
    )
    return (
        ranked.where(F.col("rk_e") <= ANN_K)
        .groupBy("query_id")
        .agg(
            F.sum((F.col("rk_q") <= ANN_K).cast("long")).alias("n_overlap")
        )
    )


def _sql_ann_rank(src: str, out: str) -> str:
    cos = sql_rnd("list_dot_product(q.e, c.e) / (q.nrm * c.nrm)", 4)
    return f"""{out} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos} DESC, c.vec_id ASC) AS rank
    FROM {src} q JOIN {src} c ON c.vec_id != q.vec_id
    WHERE q.vec_id <= {ANN_NUM_QUERIES})
  WHERE rank <= {ANN_K})"""


SQL_Q76 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
m AS (
  SELECT vec_id, e, list_min(e) AS vmin, list_max(e) AS vmax,
         (list_max(e) - list_min(e)) / 255.0 AS scale
  FROM v),
dq AS (
  SELECT vec_id,
         CASE WHEN vmax = vmin
              THEN list_transform(e, x -> {sql_rnd('vmin', 8)})
              ELSE list_transform(e, x ->
                CAST(round({sql_rnd('(x - vmin) / scale', 4)}) AS INT)
                * {sql_rnd('scale', 8)} + {sql_rnd('vmin', 8)})
         END AS e
  FROM m),
ne AS (SELECT vec_id, e,
              sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
nq AS (SELECT vec_id, e,
              sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dq),
{_sql_ann_rank('ne', 'exact')},
{_sql_ann_rank('nq', 'quant')}
SELECT e.query_id, count(qt.neighbor_id)::BIGINT AS n_overlap
FROM exact e LEFT JOIN quant qt
  ON qt.query_id = e.query_id AND qt.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


ANN_LSH_NUM_PLANES = 6


def _portable_planes() -> list[list[float]]:
    """Deterministic hyperplanes with EXACTLY-representable dyadic
    components (k/64, k ∈ [−32, 32]) from the same fixed LCG as the
    portable MinHash family: the identical float literals appear in
    the Spark plan and the oracle SQL, and dyadic values make every
    per-component product bit-identical across engines — so sign
    agreement of the bucket bits is exact, not probabilistic."""
    planes, state = [], 0x5DEECE66D ^ 0x2545F491
    for _ in range(ANN_LSH_NUM_PLANES):
        row = []
        for _ in range(64):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(((state % 65) - 32) / 64.0)
        planes.append(row)
    return planes


def q36_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (L7), oracle-portable configuration: the REAL
    plane-projection → sign-bit bucket → bucket join → cosine rerank
    path (functions/similarity.py:lsh_buckets/ann_topk_lsh) under
    SEEDED LITERAL planes whose dyadic components replay exactly in
    SQL — this key is fully value-hash oracled (r8; previously
    rows-only under xxhash64-derived planes), including its recall
    misses: the oracle reproduces the same buckets, so sub-exhaustive
    behavior is checked too (q53/q77 pin the degenerate one-bucket
    parity against brute force)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    planes = [
        F.array(*[F.lit(v) for v in row]) for row in _portable_planes()
    ]
    return S.ann_topk_lsh(emb, queries, "vec_id", "embedding", dim=64,
                          k=ANN_K, planes=planes)


def _sql_ann_lsh_portable() -> str:
    planes = _portable_planes()
    bit_exprs = " || ".join(
        "(CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(v) for v in row)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for row in planes
    )
    cos = sql_rnd("list_dot_product(q.e, c.e) / (q.nrm * c.nrm)", 4)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
b AS (SELECT vec_id, e, nrm, {bit_exprs} AS bucket FROM n),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id <= {ANN_NUM_QUERIES})
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored)
WHERE rank <= {ANN_K}
"""


SQL_Q36 = _sql_ann_lsh_portable()


def q41_ann_ivf(spark, sf_dir):
    """IVF ANN (L7 scale path, k-means lists), probing ALL lists:
    exhaustive probing is exactly brute force, so the brute-force SQL
    (SQL_Q35) is this query's oracle — the whole IVF path (Lloyd
    training, list assignment, probe, in-list re-rank) is hash-checked
    end to end. The sub-exhaustive configuration (nprobe < K) is the
    production scale path, recall-tested in tests/test_scale_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    centroids, assigned = S.ivf_train(emb, "vec_id", "embedding", k_lists=8,
                                      iters=1, return_assignment=True)
    out = S.ann_topk_ivf(emb, queries_df, "vec_id", "embedding", ANN_K,
                         centroids, nprobe=8, assigned=assigned)
    out._cached_inputs = [assigned]  # see functions.dedup.release
    return out


def q37_lang_id(spark, sf_dir):
    """Language ID heuristic (L8)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.lang_id(docs, "text").select("doc_id", "lang", "pred_lang")


def _sql_lang_score(lang: str) -> str:
    pat = TX.LANG_PATTERNS[lang].replace("'", "''")
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


SQL_Q37 = f"""
WITH scores AS (
  SELECT doc_id, lang,
         {_sql_lang_score('en')} AS s_en, {_sql_lang_score('de')} AS s_de,
         {_sql_lang_score('es')} AS s_es, {_sql_lang_score('fr')} AS s_fr,
         {_sql_lang_score('zh')} AS s_zh
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
              THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM scores
"""


def q38_quality_score(spark, sf_dir):
    """Quality scoring (L9)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_score(docs, "text").select(
        "doc_id", "n_words", "mean_word_len", "punct_ratio",
        "stopword_ratio", "quality",
    )


_EN = TX.LANG_PATTERNS["en"]

SQL_Q38 = f"""
WITH f AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS word_chars,
         len(regexp_extract_all(text, '\\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop
  FROM documents)
SELECT doc_id, n_words::BIGINT AS n_words,
       {sql_rnd('''CASE WHEN n_words > 0 THEN word_chars / n_words
                  ELSE 0.0 END''', 4)} AS mean_word_len,
       {sql_rnd('CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END', 4)}
         AS punct_ratio,
       {sql_rnd('CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END', 4)}
         AS stopword_ratio,
       {sql_rnd('''least(n_words / 50.0, 1.0) * 0.4
             + least(CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END
                     * 5.0, 1.0) * 0.4
             + (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars
                            ELSE 0.0 END * 10.0, 1.0)) * 0.2''', 4)} AS quality
FROM f
"""


def q39_token_count(spark, sf_dir):
    """Token counting (L10)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.token_counts(docs, "text").select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )


SQL_Q39 = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}'))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}'))::BIGINT AS n_bpe_tokens
FROM documents
"""


def q40_fingerprint(spark, sf_dir):
    """Document fingerprinting (L11)."""
    return TX.fingerprint(_t(spark, sf_dir, "documents"), "text", "doc_id")


SQL_Q40 = """
SELECT doc_id, md5(text) AS md5, length(text)::BIGINT AS n_chars_fp,
       substring(text, 1, 16) AS prefix16
FROM documents
"""


def q44_json_extract(spark, sf_dir):
    """Semi-structured extraction: events.props is a JSON string; pull
    a typed field JVM-side (get_json_object) and aggregate on it —
    the engine's path for sadf-style nested payloads."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(F.avg("value"), 4).alias("avg_value"),
            F.max("k").alias("max_k"),
        )
    )


SQL_Q44 = f"""
SELECT (CAST(json_extract_string(props, '$.k') AS BIGINT) % 10) AS k_bucket,
       count(*)::BIGINT AS cnt,
       {sql_rnd('avg(value)', 4)}
         AS avg_value,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""


def q45_rollup(spark, sf_dir):
    """Multi-granularity rollup: per-type rows plus the grand total in
    one pass (GROUPING SETS) — the per-device + 'all' aggregate views
    the reference renders, without a second scan."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(F.sum("value"), 4).alias("sum_value"),
        F.grouping("event_type").cast("long").alias("is_total"),
    )


SQL_Q45 = f"""
SELECT event_type, count(*)::BIGINT AS cnt,
       {sql_rnd('sum(value)', 4)}
         AS sum_value,
       (CASE WHEN GROUPING(event_type) = 1 THEN 1 ELSE 0 END)::BIGINT AS is_total
FROM events GROUP BY ROLLUP(event_type)
"""


def q42_text_clean(spark, sf_dir):
    """Corpus cleaning (PII/URL redaction + whitespace normalization):
    documents get a deterministic decoration (email, URL, tab, double
    spaces) so the operator's transforms are observable."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    decorated = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com \tsee https://ex.am/"),
            F.col("doc_id").cast("string"), F.lit("?x=1  end"),
        ),
    )
    out = TX.clean_text(decorated, "text")
    return out.select(
        "doc_id", "clean_text", F.length("clean_text").cast("long").alias("n_clean")
    )


SQL_Q42 = f"""
WITH decorated AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ' || chr(9) || 'see https://ex.am/'
              || CAST(doc_id AS VARCHAR) || '?x=1  end' AS text
  FROM documents),
cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{TX.URL_PATTERN}', '<URL>', 'g'),
               '{TX.EMAIL_PATTERN}', '<EMAIL>', 'g'),
             '[\\x00-\\x1F\\x7F]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS clean_text
  FROM decorated)
SELECT doc_id, clean_text, length(clean_text)::BIGINT AS n_clean FROM cleaned
"""


SPLIT_WEIGHTS = {"train": 80, "val": 10, "test": 10}


def q43_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by multiplicative id hash —
    reproducible across engines/runs/partitionings — plus per-split
    rollup proving the proportions."""
    ev = TX.hash_split(_t(spark, sf_dir, "events"), "event_id", SPLIT_WEIGHTS)
    return ev.groupBy("split", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(F.avg("value"), 4).alias("avg_value"),
    )


SQL_Q43 = f"""
WITH assigned AS (
  SELECT *, ((event_id % 1000003) * 2654435761 % 100 + 100) % 100 AS bucket
  FROM events),
split AS (
  SELECT *, CASE WHEN bucket < 80 THEN 'train'
                 WHEN bucket < 90 THEN 'val'
                 ELSE 'test' END AS split
  FROM assigned)
SELECT split, event_type, count(*)::BIGINT AS cnt,
       {sql_rnd('avg(value)', 4)}
         AS avg_value
FROM split GROUP BY split, event_type
"""


def q60_pii_scan(spark, sf_dir):
    """Training-corpus PII audit: per-doc counts of emails / phones /
    SSN-shaped ids / IPv4s, a has_pii flag, and a redacted copy. The
    word-soup corpus carries no PII, so each doc gets a deterministic
    doc_id-derived decoration first (same device as q42) — detection
    counts and the redacted text are then observable and oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    decorated = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(" mail user"), d.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((d % 1000).cast("string"), 3, "0"),
                    F.lit("-0199"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(
                    F.lit(" ref 123-45-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    out = TX.pii_scan(decorated, "text")
    return out.select(
        "doc_id", "n_emails", "n_phones", "n_ids", "n_ips", "has_pii", "pii_redacted"
    )


SQL_Q60 = rf"""
WITH decorated AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR)
                 || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
                 || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' ref 123-45-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
           AS text
  FROM documents),
counted AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{TX.EMAIL_PATTERN}'))::BIGINT AS n_emails,
         len(regexp_extract_all(text, '{TX.PHONE_PATTERN}'))::BIGINT AS n_phones,
         len(regexp_extract_all(text, '{TX.NATID_PATTERN}'))::BIGINT AS n_ids,
         len(regexp_extract_all(text, '{TX.IPV4_PATTERN}'))::BIGINT AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '{TX.EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{TX.PHONE_PATTERN}', '<PHONE>', 'g'),
           '{TX.NATID_PATTERN}', '<ID>', 'g'),
           '{TX.IPV4_PATTERN}', '<IP>', 'g') AS pii_redacted
  FROM decorated)
SELECT doc_id, n_emails, n_phones, n_ids, n_ips,
       (CASE WHEN n_emails + n_phones + n_ids + n_ips > 0
             THEN 1 ELSE 0 END)::BIGINT AS has_pii,
       pii_redacted
FROM counted
"""


def q61_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per document: distinct-
    word ratio, most-frequent-word share, duplicated-word share, and
    most-frequent-bigram share — the standard boilerplate/spam gate of
    a training-data mix."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.repetition_signals(docs, "text", "doc_id")


SQL_Q61 = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents),
words AS (SELECT doc_id, unnest(l) AS w FROM toks),
wc AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM words GROUP BY doc_id, w),
per_doc AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_words, count(*)::BIGINT AS n_uniq,
         max(cnt)::BIGINT AS top_cnt,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_cnt
  FROM wc GROUP BY doc_id),
bis AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS b
  FROM toks),
bc AS (SELECT doc_id, b, count(*)::BIGINT AS cnt FROM bis GROUP BY doc_id, b),
per_big AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams, max(cnt)::BIGINT AS top_big_cnt
  FROM bc GROUP BY doc_id)
SELECT d.doc_id, d.n_words,
       {sql_rnd('d.n_uniq / d.n_words::DOUBLE', 4)} AS uniq_word_ratio,
       {sql_rnd('d.top_cnt / d.n_words::DOUBLE', 4)} AS top_word_frac,
       {sql_rnd('d.dup_cnt / d.n_words::DOUBLE', 4)} AS dup_word_frac,
       {sql_rnd('coalesce(b.top_big_cnt / b.n_bigrams::DOUBLE, 0.0)', 4)}
         AS top_bigram_frac
FROM per_doc d LEFT JOIN per_big b USING (doc_id)
"""


def q71_chunk_documents(spark, sf_dir):
    """Fixed-size overlapping token-window chunking (32-token chunks,
    8-token overlap) — the context-window prep between a cleaned
    corpus and the tokenizer."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.chunk_documents(docs, "text", "doc_id",
                              chunk_tokens=32, overlap=8)


SQL_Q71 = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
meta AS (
  SELECT doc_id, l,
         greatest(1, CAST(ceil((len(l) - 8)::DOUBLE / 24) AS INT)) AS n_chunks
  FROM toks),
ch AS (
  SELECT doc_id, l, unnest(range(0, n_chunks)) AS chunk_id FROM meta)
SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       array_to_string(l[chunk_id*24 + 1 : chunk_id*24 + 32], ' ')
         AS chunk_text,
       len(l[chunk_id*24 + 1 : chunk_id*24 + 32])::BIGINT AS n_chunk_tokens
FROM ch
"""


PACK_CAPACITY = 128
PACK_SHARDS = 8


def q73_pack_sequences(spark, sf_dir):
    """Sequence packing over the q71 chunks: lay chunks end to end per
    hash shard and mark each chunk's training-sequence id and token
    offset (GPT-style concatenate-then-split, capacity 128)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = TX.chunk_documents(docs, "text", "doc_id",
                                chunk_tokens=32, overlap=8)
    return TX.pack_sequences(chunks, ["doc_id", "chunk_id"],
                             "n_chunk_tokens", capacity=PACK_CAPACITY,
                             num_shards=PACK_SHARDS)


SQL_Q73 = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
meta AS (
  SELECT doc_id, l,
         greatest(1, CAST(ceil((len(l) - 8)::DOUBLE / 24) AS INT)) AS n_chunks
  FROM toks),
ch AS (
  SELECT doc_id, l, unnest(range(0, n_chunks)) AS chunk_id FROM meta),
chunks AS (
  SELECT doc_id, chunk_id::BIGINT AS chunk_id,
         len(l[chunk_id*24 + 1 : chunk_id*24 + 32])::BIGINT AS n_tokens,
         (((doc_id % 1000003) * 2654435761) % {PACK_SHARDS}
          + {PACK_SHARDS}) % {PACK_SHARDS} AS shard
  FROM ch),
packed AS (
  SELECT doc_id, chunk_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS cum0
  FROM chunks)
SELECT doc_id, chunk_id, shard, n_tokens,
       CAST(floor(cum0 / {PACK_CAPACITY}) AS BIGINT) AS seq_id,
       (cum0 % {PACK_CAPACITY})::BIGINT AS seq_offset
FROM packed
"""


def q74_shard_manifest(spark, sf_dir):
    """Export manifest: per-shard document/token/byte totals and id
    range for a deterministic JSONL sharding in which document d goes
    to shard ``util.shard_hash(doc_id, n)`` — the index a training job
    reads to plan loaders without touching shard payloads. An export
    that places rows with the same shard_hash helper holds exactly
    this manifest's shard-K rows in shard K."""
    from .util import shard_hash

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shard = shard_hash(F.col("doc_id"), PACK_SHARDS)
    return (
        docs.groupBy(shard.alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.regexp_count(F.col("text"), F.lit(TX.WS_TOKEN_PATTERN))
            ).cast("long").alias("n_tokens"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SQL_Q74 = rf"""
SELECT (((doc_id % 1000003) * 2654435761) % {PACK_SHARDS}
        + {PACK_SHARDS}) % {PACK_SHARDS} AS shard,
       count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}')))::BIGINT
         AS n_tokens,
       sum(length(text))::BIGINT AS n_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents GROUP BY 1
"""


def q70_quality_filter(spark, sf_dir):
    """Composed C4/Gopher-style quality gate: every per-document
    signal (length, word shape, punctuation, English stopword
    fluency, repetition, detected language, PII audit count)
    evaluated into one keep/drop verdict."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.quality_filter(docs, "text", "doc_id")


_PII_SQL_COUNT = " + ".join(
    f"len(regexp_extract_all(text, '{pat}'))"
    for pat, _ in TX.PII_PATTERNS.values()
)

# Parameterized so SQL_Q85's pipeline oracle replays the IDENTICAL
# quality gate over its planted train corpus; `_sql_quality('documents')`
# reproduces the historical SQL_Q70 text byte-for-byte (tail digest
# unchanged).
def _sql_quality(corpus: str) -> str:
    return f"""
WITH f AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS word_chars,
         len(regexp_extract_all(text, '\\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop,
         {_sql_lang_score('en')} AS s_en, {_sql_lang_score('de')} AS s_de,
         {_sql_lang_score('es')} AS s_es, {_sql_lang_score('fr')} AS s_fr,
         {_sql_lang_score('zh')} AS s_zh,
         ({_PII_SQL_COUNT})::BIGINT AS n_pii
  FROM {corpus}),
sig AS (
  SELECT doc_id, n_words::BIGINT AS n_words,
         {sql_rnd('CASE WHEN n_words > 0 THEN word_chars / n_words ELSE 0.0 END', 4)} AS mean_word_len,
         {sql_rnd('CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END', 4)} AS punct_ratio,
         {sql_rnd('CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END', 4)} AS stopword_ratio,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
                THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
              WHEN s_fr >= s_zh THEN 'fr'
              ELSE 'zh' END AS pred_lang,
         n_pii
  FROM f),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
  FROM {corpus}),
words AS (SELECT doc_id, unnest(l) AS w FROM toks),
wc AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM words GROUP BY doc_id, w),
per_doc AS (
  SELECT doc_id, sum(cnt)::BIGINT AS nw,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_cnt
  FROM wc GROUP BY doc_id),
bis AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS b
  FROM toks),
bc AS (SELECT doc_id, b, count(*)::BIGINT AS cnt FROM bis GROUP BY doc_id, b),
per_big AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams, max(cnt)::BIGINT AS top_big_cnt
  FROM bc GROUP BY doc_id),
rep AS (
  SELECT d.doc_id,
         {sql_rnd('d.dup_cnt / d.nw::DOUBLE', 4)} AS dup_word_frac,
         {sql_rnd('coalesce(b.top_big_cnt / b.n_bigrams::DOUBLE, 0.0)', 4)} AS top_bigram_frac
  FROM per_doc d LEFT JOIN per_big b USING (doc_id)),
j AS (SELECT * FROM sig JOIN rep USING (doc_id))
SELECT doc_id, n_words, mean_word_len, punct_ratio, stopword_ratio,
       dup_word_frac, top_bigram_frac, pred_lang, n_pii,
       (n_words BETWEEN 20 AND 100000)::BIGINT AS ok_words,
       (pred_lang IN ('en', 'de', 'es', 'fr'))::BIGINT AS ok_lang,
       (dup_word_frac <= 0.85 AND top_bigram_frac <= 0.25)::BIGINT
         AS ok_repetition,
       (n_words BETWEEN 20 AND 100000
        AND mean_word_len BETWEEN 2.0 AND 12.0
        AND punct_ratio <= 0.3
        AND (pred_lang <> 'en' OR stopword_ratio >= 0.02)
        AND dup_word_frac <= 0.85 AND top_bigram_frac <= 0.25
        AND pred_lang IN ('en', 'de', 'es', 'fr'))::BIGINT AS keep
FROM j
"""


SQL_Q70 = _sql_quality("documents")


SQL_Q85 = f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET} AS doc_id, text, source FROM documents),
train AS (SELECT * FROM corpus WHERE doc_id % {PIPELINE_EVAL_MOD} <> 0),
evald AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {PIPELINE_EVAL_MOD} = 0),
qf AS ({_sql_quality('train')}),
base AS (
  SELECT t.doc_id, t.source, t.text, q.n_words, q.keep
  FROM train t JOIN qf q USING (doc_id)),
qpass AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM base WHERE keep = 1),
dpass AS (SELECT doc_id, text FROM qpass WHERE rn = 1),
{_sql_winnow('dpass', 'tfps')},
{_sql_winnow('evald', 'efps')},
flagged AS (
  SELECT DISTINCT t.doc AS doc_id
  FROM tfps t JOIN (SELECT DISTINCT fp FROM efps) e USING (fp)),
staged AS (
  SELECT b.doc_id, b.source, b.n_words,
         CASE WHEN b.keep = 0 THEN 'quality'
              WHEN q.rn > 1 THEN 'duplicate'
              WHEN f.doc_id IS NOT NULL THEN 'contaminated'
              ELSE 'kept' END AS stage
  FROM base b
  LEFT JOIN qpass q USING (doc_id)
  LEFT JOIN flagged f USING (doc_id))
SELECT source, stage, count(*)::BIGINT AS n_docs,
       sum(n_words)::BIGINT AS n_words
FROM staged GROUP BY source, stage
"""


def q62_decontaminate(spark, sf_dir):
    """Train/eval n-gram decontamination: documents with doc_id % 50
    == 0 play the held-out eval suite; every other doc is training
    data. Flag training docs sharing any 3-gram shingle with the eval
    set, with the count of shared distinct shingles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 50 == 0)
    tr = docs.where(F.col("doc_id") % 50 != 0)
    return D.decontaminate(tr, ev, "text", "doc_id", shingle_n=3)


SQL_Q62 = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc_id, array_to_string(w, ' ') AS shingle FROM words WHERE len(w) < 3)),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
SELECT s.doc_id, count(*)::BIGINT AS n_shared_shingles
FROM sh s JOIN ev USING (shingle)
WHERE s.doc_id % 50 <> 0
GROUP BY s.doc_id
"""


def q92_eval_containment(spark, sf_dir):
    """Graded contamination: every training doc's fraction of distinct
    3-gram shingles found in the eval suite (doc_id % 50 == 0) — the
    GPT-3-style overlap fraction curators threshold, full column
    value-checked (q62 surfaces only the binary flag set)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 50 == 0)
    tr = docs.where(F.col("doc_id") % 50 != 0)
    return D.eval_containment(tr, ev, "text", "doc_id", shingle_n=3)


SQL_Q92 = fr"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc_id, array_to_string(w, ' ') AS shingle FROM words WHERE len(w) < 3)),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
SELECT s.doc_id,
       count(*)::BIGINT AS n_shingles,
       count(e.shingle)::BIGINT AS n_hits,
       {sql_rnd('count(e.shingle)::DOUBLE / count(*)', 4)} AS containment
FROM sh s LEFT JOIN ev e ON s.shingle = e.shingle
WHERE s.doc_id % 50 <> 0
GROUP BY s.doc_id
"""


def q63_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (keyword extraction over the
    training mix). Rank key is the ROUNDED score (desc) then term
    (asc), so ordering is reproducible across engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.tfidf_top_terms(docs, "text", "doc_id", k=3)


SQL_Q63 = rf"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM words GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT doc_id, term, tf,
         {sql_rnd('tf * ln(n_docs::DOUBLE / df)', 4)} AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, tf, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= 3
"""


MIX_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q64_mix_weights(spark, sf_dir):
    """Source-mix rebalancing: per-source token shares and the
    keep-probabilities that steer the corpus toward a 40/30/20/10
    target mixture by downsampling."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return TX.source_mix_weights(docs, "source", "text", MIX_TARGETS)


SQL_Q64 = rf"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source),
tgt(source, target_share) AS (
  VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
j AS (
  SELECT p.source, n_docs, n_tokens, target_share,
         n_tokens::DOUBLE / sum(n_tokens) OVER () AS share,
         target_share / (n_tokens::DOUBLE / sum(n_tokens) OVER ()) AS ratio
  FROM per p JOIN tgt USING (source))
SELECT source, n_docs, n_tokens,
       {sql_rnd('share', 6)} AS token_share,
       target_share,
       {sql_rnd('ratio / max(ratio) OVER ()', 6)} AS sample_weight
FROM j
"""


def q66_mix_apply(spark, sf_dir):
    """Closed-loop mix rebalancing: compute the q64 sample weights,
    apply them with the deterministic hash sampler, and report the
    achieved token mix of the sampled corpus against MIX_TARGETS —
    verifying end-to-end that the weights steer the corpus as
    claimed."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return TX.apply_mix_weights(docs, "source", "doc_id", "text", MIX_TARGETS)


SQL_Q66 = rf"""
WITH per AS (
  SELECT source,
         sum(len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source),
tgt(source, target_share) AS (
  VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
j AS (
  SELECT p.source, target_share,
         target_share / (n_tokens::DOUBLE / sum(n_tokens) OVER ()) AS ratio
  FROM per p JOIN tgt USING (source)),
w AS (
  SELECT source, target_share,
         floor({sql_rnd('ratio / max(ratio) OVER ()', 6)} * 10000) AS threshold
  FROM j),
sampled AS (
  SELECT d.source, d.text, target_share
  FROM documents d JOIN w USING (source)
  WHERE (((doc_id % 1000003) * 2654435761) % 10000 + 10000) % 10000
        < threshold),
per2 AS (
  SELECT source, target_share, count(*)::BIGINT AS n_docs_kept,
         sum(len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}')))::BIGINT
           AS n_tokens_kept
  FROM sampled GROUP BY source, target_share)
SELECT source, n_docs_kept, n_tokens_kept, target_share,
       {sql_rnd('n_tokens_kept::DOUBLE / sum(n_tokens_kept) OVER ()', 6)}
         AS achieved_share,
       {sql_rnd(
           'n_tokens_kept::DOUBLE / sum(n_tokens_kept) OVER () - target_share',
           6)}
         AS share_err
FROM per2
"""


def q65_top_ngrams(spark, sf_dir):
    """Corpus-wide most-repeated 5-grams with occurrence and document
    counts — the memorization-risk report run before training."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.top_ngrams(docs, "text", "doc_id", n=5, k=20)


SQL_Q65 = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS ngram
  FROM words WHERE len(w) >= 5),
counts AS (
  SELECT ngram, count(*)::BIGINT AS n_occurrences,
         count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM grams GROUP BY ngram)
SELECT ngram, n_occurrences, n_docs,
       row_number() OVER (ORDER BY n_occurrences DESC, ngram ASC)::BIGINT AS rank
FROM counts ORDER BY n_occurrences DESC, ngram ASC LIMIT 20
"""


def q49_anti_join_dedup(spark, sf_dir):
    """Incremental corpus dedup: drop incoming docs whose exact content
    already exists in the reference corpus — LEFT ANTI join on the
    content hash (broadcastable reference digest set at any corpus
    size, since it's 16 bytes per existing doc)."""
    ref = _t(spark, sf_dir, "documents").select(F.md5("text").alias("md5"))
    incoming = _planted_corpus(spark, sf_dir).withColumn(
        "md5", F.md5("text")
    )
    # planted +OFFSET docs have a suffix → genuinely new; a second
    # copy of the originals (+2·OFFSET) is exact-duplicate noise
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    exact_copies = docs.select(
        (F.col("doc_id") + 2 * PLANT_OFFSET).alias("doc_id"), "text"
    ).withColumn("md5", F.md5("text"))
    batch = incoming.unionByName(exact_copies)
    kept = batch.join(ref, on="md5", how="left_anti")
    return kept.select("doc_id", "md5")


SQL_Q49 = f"""
WITH ref AS (SELECT md5(text) AS md5 FROM documents),
batch AS (
  SELECT doc_id, md5(text) AS md5 FROM ({SQL_PLANTED})
  UNION ALL
  SELECT doc_id + {2 * PLANT_OFFSET} AS doc_id, md5(text) AS md5 FROM documents)
SELECT doc_id, md5 FROM batch
WHERE NOT EXISTS (SELECT 1 FROM ref WHERE ref.md5 = batch.md5)
"""


def q50_sketch_stats(spark, sf_dir):
    """Sketch statistics over events, oracle-portable form (r8 — the
    q54 bound-gate pattern, extended): the exact anchors — distinct
    users, exact median, and the row count of the ENGINE-PORTABLE
    deterministic hash sample (a ``util.shard_hash`` bucket of the
    user id below the sample percent) — are value-hash
    oracled, and the HLL / quantile-sketch estimates must sit within
    their documented bounds (booleans the oracle expects true). The
    raw estimates are engine-internal by design; this was the last
    reason the key was rows-only, and the bound-gate form retires it
    while still executing every sketch.

    TWO aggregation passes (distinct-keyed and value-keyed) joined on
    the tiny group key: mixing countDistinct with the buffering
    percentile in ONE agg makes Catalyst expand every row for the
    distinct path and drop the whole thing out of hash aggregation
    (measured 4.8 s vs 1.0 s for the split at sf0.1); five separate
    aggregations (the first r8 form) cost 5 scans + a
    distributed-rank sort. The exact `percentile` buffers each
    group's values — the documented trade this query's KLL twin
    exists for; at scales where a group outgrows an executor, anchor
    on q03's distributed-rank percentiles instead."""
    from .util import shard_hash

    ev = _t(spark, sf_dir, "events")
    dist = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact_distinct"),
        F.approx_count_distinct("user_id", 0.05).alias("_hll"),
        F.sum(
            F.when(shard_hash(F.col("user_id"), 100) < 10, 1).otherwise(0)
        ).cast("bigint").alias("n_sampled_rows"),
    )
    med = ev.groupBy("event_type").agg(
        rnd(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_ap50"),
    )
    agg = dist.join(med, "event_type")
    return agg.select(
        "event_type", "n_exact_distinct", "exact_p50", "n_sampled_rows",
        (
            F.abs(F.col("_hll") - F.col("n_exact_distinct"))
            <= 0.15 * F.col("n_exact_distinct")
        ).alias("hll_ok"),
        (
            F.abs(F.col("_ap50") - F.col("exact_p50"))
            <= 0.10 * F.abs(F.col("exact_p50"))
        ).alias("p50_ok"),
    )


SQL_Q50 = f"""
WITH ex AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact_distinct,
         {sql_rnd('quantile_cont(value, 0.5)', 4)} AS exact_p50
  FROM events GROUP BY event_type),
samp AS (
  SELECT event_type, count(*)::BIGINT AS n_sampled_rows
  FROM events WHERE ((user_id % 1000003) * 2654435761) % 100 < 10
  GROUP BY event_type)
SELECT event_type, n_exact_distinct, exact_p50,
       coalesce(n_sampled_rows, 0)::BIGINT AS n_sampled_rows,
       true AS hll_ok, true AS p50_ok
FROM ex LEFT JOIN samp USING (event_type)
"""


OVERLAY_A = ("2024-01-10 00:00:00", "2024-01-13 00:00:00")
OVERLAY_B = ("2024-01-20 00:00:00", "2024-01-23 00:00:00")


def q59_overlay_align(spark, sf_dir):
    """Cross-file time-of-day alignment (reference replace_ymt,
    dataframe_funcs_pl.py:81 + the multi-file overlay flow): two
    disjoint 3-day windows of `events` play two sar files recorded on
    different days; each is rebased onto a common day axis
    (time-of-day preserved) and compared hour-by-hour on the rebased
    axis — the overlay table the reference charts."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(
        (F.col("ts") >= F.lit(OVERLAY_A[0])) & (F.col("ts") < F.lit(OVERLAY_A[1]))
    ).withColumn("file", F.lit("fa"))
    b = ev.where(
        (F.col("ts") >= F.lit(OVERLAY_B[0])) & (F.col("ts") < F.lit(OVERLAY_B[1]))
    ).withColumn("file", F.lit("fb"))
    aligned = TS.overlay_align(a.unionByName(b), "ts", ["file"])
    hourly = aligned.groupBy(
        F.date_trunc("HOUR", "ts_aligned").alias("tod")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        rnd(F.avg(F.when(F.col("file") == "fa", F.col("value"))), 4).alias("avg_a"),
        rnd(F.avg(F.when(F.col("file") == "fb", F.col("value"))), 4).alias("avg_b"),
    )
    return hourly.withColumn(
        "gap", rnd(F.col("avg_a") - F.col("avg_b"), 4)
    )


SQL_Q59 = f"""
WITH u AS (
  SELECT 'fa' AS file, ts, value FROM events
  WHERE ts >= TIMESTAMP '{OVERLAY_A[0]}' AND ts < TIMESTAMP '{OVERLAY_A[1]}'
  UNION ALL
  SELECT 'fb' AS file, ts, value FROM events
  WHERE ts >= TIMESTAMP '{OVERLAY_B[0]}' AND ts < TIMESTAMP '{OVERLAY_B[1]}'),
anch AS (SELECT file, date_trunc('day', min(ts)) AS day0 FROM u GROUP BY file),
al AS (
  SELECT u.file, TIMESTAMP '1970-01-01 00:00:00' + (u.ts - a.day0) AS ts_aligned,
         value
  FROM u JOIN anch a USING (file)),
hourly AS (
  SELECT date_trunc('hour', ts_aligned) AS tod, count(*)::BIGINT AS cnt,
         {sql_rnd("avg(CASE WHEN file = 'fa' THEN value END)", 4)} AS avg_a,
         {sql_rnd("avg(CASE WHEN file = 'fb' THEN value END)", 4)} AS avg_b
  FROM al GROUP BY 1)
SELECT tod, cnt, avg_a, avg_b,
       {sql_rnd('avg_a - avg_b', 4)} AS gap
FROM hourly
"""


# --------------------------------------------------------------------
# cross-check queries: oracle-checkable invariants for the hash-seeded
# operators (q31/q32/q36/q50 stay rows-only as the primary demos; these
# entries put their correctness into the driver's CORRECTNESS file)
# --------------------------------------------------------------------


def q51_minhash_twin_recall(spark, sf_dir):
    """MinHash+LSH recall gate: every planted near-dup twin (doc,
    doc+OFFSET) must be recovered at est_jaccard ≥ 0.5. The twin count
    equals count(documents) — SQL-expressible — so banding recall is
    driver-checked, not just pytest-checked."""
    pairs = _minhash_pairs_shared(spark, sf_dir)
    twins = pairs.where(
        (F.col("est_jaccard") >= 0.5)
        & (F.col("doc_b") == F.col("doc_a") + PLANT_OFFSET)
    )
    docs = _t(spark, sf_dir, "documents")
    return docs.select(F.count(F.lit(1)).alias("n_expected")).crossJoin(
        twins.select(F.count(F.lit(1)).alias("n_found"))
    ).select(
        "n_expected", "n_found",
        (F.col("n_expected") - F.col("n_found")).alias("n_missing"),
    )


SQL_Q51 = """
SELECT count(*)::BIGINT AS n_expected, count(*)::BIGINT AS n_found,
       0::BIGINT AS n_missing
FROM documents
"""


def q52_simhash_twin_recall(spark, sf_dir):
    """SimHash recall gate: exact-duplicate twins have identical
    signatures, so banding MUST pair them (all chunks equal) — a
    deterministic guarantee, checked against count(documents).

    The signature depends only on the text, so each text is signed
    ONCE and the twins' signatures are the same rows with shifted ids
    — halves the explode+aggregate work while exercising the same
    banding/pairing path. The base signatures are the sub-OFFSET slice
    of the family-shared planted-corpus memo (one signing pass serves
    q32 + q52)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = _planted_simhash_sigs(spark, sf_dir).where(
        F.col("doc") < PLANT_OFFSET
    )
    twin_sigs = sigs.select((F.col("doc") + PLANT_OFFSET).alias("doc"), "simhash")
    pairs = D.simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=0,
        sigs=sigs.unionByName(twin_sigs),
    )
    found = pairs.where(F.col("doc_b") == F.col("doc_a") + PLANT_OFFSET)
    return docs.select(F.count(F.lit(1)).alias("n_expected")).crossJoin(
        found.select(F.count(F.lit(1)).alias("n_found"))
    ).select(
        "n_expected", "n_found",
        (F.col("n_expected") - F.col("n_found")).alias("n_missing"),
    )


SQL_Q52 = SQL_Q51


def q53_lsh_exact_parity(spark, sf_dir):
    """LSH ANN in its degenerate one-bucket configuration (num_planes=0)
    — bucketing, bucket join, scoring, and ranking all execute, and the
    result must equal exact brute force, so SQL_Q35 is the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    return S.ann_topk_lsh(emb, queries_df, "vec_id", "embedding", dim=64,
                          k=ANN_K, num_planes=0)


def q77_ann_lsh_parity(spark, sf_dir):
    """ANN-LSH degenerate parity, constant-plane variant. q53 proves
    the num_planes=0 configuration (bucket = empty concat — a literal
    constant, so the bit computation never runs). Here ONE injected
    all-zero hyperplane makes every dot product 0 → sign bit "1" for
    every vector: the REAL plane-projection + bit-string + bucket-join
    path executes and still lands the whole corpus in a single bucket,
    so the result must equal exact brute force (SQL_Q35 oracle) —
    together q53 + q77 pin both branches of the bucketing code."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    zero_plane = F.array(*[F.lit(0.0) for _ in range(EMB_DIM)])
    return S.ann_topk_lsh(emb, queries_df, "vec_id", "embedding", dim=EMB_DIM,
                          k=ANN_K, planes=[zero_plane])


def q54_sketch_bounds(spark, sf_dir):
    """Sketch error-bound gate: exact distinct count is oracle-checked
    directly; the HLL estimate and approximate median must sit within
    documented error bounds (booleans the oracle expects true)."""
    from .operators import sketches as SKC

    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact_distinct"),
    )
    med = (
        ST.percentiles(ev, "value", ["event_type"], probs=(0.5,))
        .select("event_type", F.col("p50").alias("exact_p50"))
    )
    approx = SKC.approx_distinct(ev, "user_id", ["event_type"])
    aq = SKC.approx_percentiles(ev, "value", ["event_type"], probs=(0.5,))
    joined = exact.join(med, "event_type").join(approx, "event_type").join(aq, "event_type")
    hll_col = [c for c in approx.columns if c != "event_type"][0]
    ap50_col = [c for c in aq.columns if c != "event_type"][0]
    return joined.select(
        "event_type", "n_exact_distinct",
        (
            F.abs(F.col(hll_col) - F.col("n_exact_distinct"))
            <= 0.15 * F.col("n_exact_distinct")
        ).alias("hll_ok"),
        (
            F.abs(F.col(ap50_col) - F.col("exact_p50"))
            <= 0.10 * F.abs(F.col("exact_p50"))
        ).alias("p50_ok"),
    )


SQL_Q54 = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact_distinct,
       true AS hll_ok, true AS p50_ok
FROM events GROUP BY event_type
"""


def q55_header_alias_roundtrip(spark, sf_dir):
    """Bidirectional header↔alias dimension integrity (reference keeps
    this in sqlite: sqlite2_polars.py:168/:186, helpers_pl.py:62-116):
    forward direction explodes each header's metrics and counts
    man-page-description coverage; reverse direction recovers each
    alias's canonical header. DuckDB reads the same checked-in TSVs."""
    from . import metadata as MD

    h = MD.headings_df(spark).select("alias", "header")
    m = MD.metric_descriptions_df(spark).select("metric", F.lit(1).alias("_has"))
    exploded = h.select(
        "alias", "header", F.explode(F.split("header", " ")).alias("metric")
    )
    cov = (
        exploded.join(F.broadcast(m), "metric", "left")
        .groupBy("alias", "header")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_metrics"),
            F.sum(F.coalesce(F.col("_has"), F.lit(0))).cast("bigint").alias("n_described"),
        )
    )
    canon = h.groupBy("alias").agg(F.min("header").alias("canonical_header"))
    return cov.join(F.broadcast(canon), "alias")


import os as _os

_DATA_DIR = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), "data")

SQL_Q55 = f"""
WITH h AS (
  SELECT header, alias
  FROM read_csv('{_DATA_DIR}/headings.tsv', delim='\t', header=true,
                quote='', all_varchar=true)),
m AS (
  SELECT metric
  FROM read_csv('{_DATA_DIR}/metric_descriptions.tsv', delim='\t',
                header=true, quote='', all_varchar=true)),
e AS (SELECT alias, header, unnest(string_split(header, ' ')) AS metric FROM h),
cov AS (
  SELECT alias, header, count(*)::BIGINT AS n_metrics,
         sum(CASE WHEN metric IN (SELECT metric FROM m)
                  THEN 1 ELSE 0 END)::BIGINT AS n_described
  FROM e GROUP BY alias, header),
canon AS (SELECT alias, min(header) AS canonical_header FROM h GROUP BY alias)
SELECT cov.alias, cov.header, cov.n_metrics, cov.n_described,
       canon.canonical_header
FROM cov JOIN canon USING (alias)
"""


TEMP_ALPHA = 0.5


def q93_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixture (the multilingual
    α-sampling scheme, α=0.5): per-source token shares, the flattened
    q = p^α / Σp^α target, and the keep-probabilities that steer the
    corpus there — the self-deriving alternative to q64's hand-written
    target dict."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return TX.temperature_mix_weights(
        docs, "source", "text", alpha=TEMP_ALPHA
    )


SQL_Q93 = rf"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source),
s AS (
  SELECT source, n_docs, n_tokens,
         {sql_rnd('n_tokens::DOUBLE / sum(n_tokens) OVER ()', 8)} AS share
  FROM per),
q AS (
  SELECT source, n_docs, n_tokens, share,
         pow(share, {TEMP_ALPHA}) / sum(pow(share, {TEMP_ALPHA})) OVER ()
           AS tshare
  FROM s)
SELECT source, n_docs, n_tokens,
       {sql_rnd('share', 6)} AS token_share,
       {sql_rnd('tshare', 6)} AS temp_share,
       {sql_rnd('(tshare / share) / max(tshare / share) OVER ()', 6)}
         AS sample_weight
FROM q
"""


ALLOC_BUDGET = 100_000


def q152_budget_allocation(spark, sf_dir):
    """Largest-remainder token-budget allocation (functions/text.py:
    budget_allocation, r9; Hamilton's method): split an exact 100k
    token budget across sources proportionally to q93's temperature
    shares so the integer parts sum EXACTLY to the budget — the step
    between a mixture policy and a concrete sampling plan, with a
    fully_funded audit flag where the allocation exceeds a source's
    inventory. Every window is over the |sources|-row weights frame.
    Fully value-hash oracled."""
    mix = q93_temperature_mix(spark, sf_dir)
    return TX.budget_allocation(mix, "source", "temp_share",
                                budget=ALLOC_BUDGET,
                                avail_col="n_tokens")


SQL_Q152 = f"""
WITH mix AS ({SQL_Q93}),
norm AS (
  SELECT source, n_tokens, temp_share,
         {sql_rnd('temp_share / sum(temp_share) OVER ()', 8)} AS w8
  FROM mix),
qta AS (
  SELECT source, n_tokens, temp_share,
         floor(w8 * {ALLOC_BUDGET}.0)::BIGINT AS base,
         w8 * {ALLOC_BUDGET}.0 - floor(w8 * {ALLOC_BUDGET}.0) AS frac
  FROM norm),
rk AS (
  SELECT *, ({ALLOC_BUDGET} - sum(base) OVER ())::BIGINT AS leftover,
         row_number() OVER (ORDER BY frac DESC, source ASC) AS rn
  FROM qta)
SELECT source, temp_share, n_tokens,
       (base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END)::BIGINT
         AS alloc_tokens,
       CASE WHEN base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                 <= n_tokens
            THEN 1 ELSE 0 END::BIGINT AS fully_funded
FROM rk
"""


def q153_word_entropy(spark, sf_dir):
    """Per-document unigram word entropy + type/token ratio
    (functions/text.py:word_entropy, r9): the smooth repetitiveness
    signal beside q61's hard ratios — templated/looping text
    collapses toward 0, diverse prose approaches ln(n_types); the
    CCNet-family shard-ranking diagnostic (Wenzek et al. 2020 §4).
    Entropy terms ride the rnd ladder (the q84 ln() precedent); empty
    documents report 0, not NULL. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.word_entropy(docs, "text", "doc_id")


_WE_P = sql_rnd("cnt / n", 8)

SQL_Q153 = rf"""
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents WHERE length(trim(coalesce(text, ''))) > 0),
wc AS (
  SELECT doc, w, count(*)::DOUBLE AS cnt
  FROM toks WHERE w != '' GROUP BY doc, w),
per AS (
  SELECT doc, sum(cnt) AS n, count(*)::BIGINT AS n_types
  FROM wc GROUP BY doc),
ent AS (
  SELECT wc.doc,
         {sql_rnd(f'sum({sql_rnd(f"-({_WE_P}) * ln({_WE_P})", 8)})', 4)}
           AS we
  FROM wc JOIN per ON per.doc = wc.doc GROUP BY wc.doc)
SELECT d.doc_id,
       coalesce(per.n, 0.0)::BIGINT AS n_tokens,
       coalesce(per.n_types, 0)::BIGINT AS n_types,
       coalesce({sql_rnd('per.n_types / per.n', 4)}, 0.0) AS ttr,
       coalesce(ent.we, 0.0) AS word_entropy
FROM documents d
LEFT JOIN per ON per.doc = d.doc_id
LEFT JOIN ent ON ent.doc = d.doc_id
"""


PASSAGE_WORDS = 8


def q94_passage_dedup(spark, sf_dir):
    """Passage-level exact substring dedup (C4's previously-seen-span
    rule) on the planted corpus: every repeated 8-word passage is cut
    except its first (doc, position) occurrence and documents are
    stitched back together — each planted twin keeps only its unique
    tail, while both corpora's shared boilerplate survives exactly
    once. Full clean_text column value-hash oracled."""
    corpus = _planted_corpus(spark, sf_dir)
    return D.passage_dedup(
        corpus, "text", "doc_id", passage_words=PASSAGE_WORDS
    )


SQL_Q94 = rf"""
WITH corpus AS ({SQL_PLANTED}),
words AS (
  SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS w FROM corpus),
p0 AS (
  SELECT doc, w,
         unnest(range(0, greatest(
           CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT), 1))) AS idx
  FROM words),
pass AS (
  SELECT doc, idx,
         array_to_string(list_transform(
           range(idx * {PASSAGE_WORDS} + 1,
                 least((idx + 1) * {PASSAGE_WORDS}, len(w)) + 1),
           j -> w[j]), ' ') AS passage
  FROM p0),
hashed AS (
  SELECT doc, idx, passage, md5(passage) AS h,
         ROW(doc, idx) AS k
  FROM pass),
firsts AS (SELECT h, min(k) AS first_k FROM hashed GROUP BY h),
flagged AS (
  SELECT doc, idx, passage, k <> first_k AS dup
  FROM hashed JOIN firsts USING (h))
SELECT doc AS doc_id, count(*)::BIGINT AS n_passages,
       sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       coalesce(string_agg(passage, ' ' ORDER BY idx)
                  FILTER (WHERE NOT dup), '') AS clean_text
FROM flagged GROUP BY doc
"""


def q95_bigram_logprob(spark, sf_dir):
    """Bigram-LM fluency scores with Stupid Backoff (Brants et al.
    2007 — the distributed-LM smoothing): every document's mean token
    log-score and perplexity under the corpus-trained bigram model
    with the Brants count cutoff (singleton bigrams pruned), scoring
    word ORDER where q84's unigram model scores only vocabulary. Both
    the kept-bigram and the pruned→backoff path are live in the gate;
    the full column set is value-hash oracled. Since r12 the scored
    frame is session-memoized (``_bigram_lm_shared``, shared with
    q123's proxy model)."""
    return _bigram_lm_shared(spark, sf_dir)


SQL_Q95 = rf"""
WITH words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
p0 AS (
  SELECT doc, w, unnest(range(1, len(w) + 1)) AS pos FROM words),
tok AS (SELECT doc, pos, w[pos] AS w FROM p0),
stream AS (
  SELECT doc, pos, w,
         lag(w) OVER (PARTITION BY doc ORDER BY pos) AS prev
  FROM tok),
uni AS (SELECT w, count(*)::DOUBLE AS cw FROM tok GROUP BY w),
tot AS (SELECT sum(cw) AS n FROM uni),
bi AS (
  SELECT prev, w, count(*)::DOUBLE AS cb FROM stream
  WHERE prev IS NOT NULL GROUP BY prev, w
  HAVING count(*) >= 2),
scored AS (
  SELECT s.doc,
         {sql_rnd("CASE WHEN s.prev IS NULL THEN ln(u.cw / tot.n) "
                  "WHEN b.cb IS NOT NULL THEN ln(b.cb / pu.cw) "
                  "ELSE ln(0.4 * u.cw / tot.n) END", 8)} AS lp
  FROM stream s
  LEFT JOIN bi b ON b.prev = s.prev AND b.w = s.w
  LEFT JOIN uni pu ON pu.w = s.prev
  JOIN uni u ON u.w = s.w, tot),
agg AS (
  SELECT doc, count(*)::BIGINT AS n_tokens, {sql_rnd('avg(lp)', 4)} AS avg_logp
  FROM scored GROUP BY doc)
SELECT doc AS doc_id, n_tokens, avg_logp,
       {sql_rnd('exp(-avg_logp)', 4)} AS ppl
FROM agg
"""


def q96_dedup_keep_best(spark, sf_dir):
    """Quality-ranked near-dup dedup: same clusters as q69, but each
    cluster keeps its LONGEST member (word count, ties by id) instead
    of the min-id one — the 'keep the best copy' curator policy. On
    the planted corpus this provably flips the choice: every twin is
    one word longer than its base, so the twin survives where q69
    keeps the base."""
    corpus = _planted_corpus(spark, sf_dir)
    clusters = _dup_clusters_shared(spark, sf_dir)
    scores = corpus.select(
        "doc_id",
        F.regexp_count("text", F.lit(TX.WS_TOKEN_PATTERN))
        .cast("long")
        .alias("n_words"),
    )
    kept = D.dedup_apply_best(corpus, clusters, scores, "doc_id", "n_words")
    return kept.select("doc_id", F.md5("text").alias("md5"))


SQL_Q96 = rf"""
WITH RECURSIVE corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(doc, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.doc, e.d FROM reach w JOIN edges e ON e.s = w.r),
clusters AS (
  SELECT doc AS doc_id, min(r) AS rep FROM reach GROUP BY doc),
scored AS (
  SELECT c.doc_id, c.rep,
         len(regexp_extract_all(x.text, '{TX.WS_TOKEN_PATTERN}'))::BIGINT
           AS n_words
  FROM clusters c JOIN corpus x USING (doc_id)),
ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY rep
                            ORDER BY n_words DESC, doc_id ASC) AS rn
  FROM scored)
SELECT c.doc_id, md5(c.text) AS md5
FROM corpus c
WHERE c.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
"""


PQ_M = 4
PQ_K = 8
PQ_ITERS = 2
PQ_D = 16  # EMB_DIM // PQ_M


# One codebook training + encoding pass serves the whole PQ family
# (q97 codes, q98 ADC, q99 rerank) — identical config, identical
# corpus. Codebooks are m·k rows; codes are m small ints per vector.
# Session-lived like the other family memos.
@session_memo()
def _pq_shared(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    emb = _t(spark, sf_dir, "embeddings")
    books = S.pq_train_exact(
        emb, "vec_id", "embedding", EMB_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS
    ).cache()
    codes = S.pq_codes(
        emb, "vec_id", "embedding", books, EMB_DIM, m=PQ_M
    ).cache()
    return books, codes


def q97_pq_codes(spark, sf_dir):
    """Product-quantization encoding (Jégou et al. 2011): per-subspace
    rounded-Lloyd codebooks (m=4 subspaces × k=8 codewords over the
    64-dim embeddings) and each vector's nearest-codeword code per
    subspace — dim floats compressed to m·log2(k)=12 bits. The whole
    train+encode chain is SQL-replayable by the q72 rounding
    discipline, so every code is value-hash oracled."""
    return _pq_shared(spark, sf_dir)[1]


def _sql_pq_dist(e: str, c: str) -> str:
    return sql_rnd(
        f"list_sum(list_transform(range(1, {PQ_D + 1}), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i])))",
        6,
    )


_SQL_PQ_V = f"""
v0 AS (
  SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fe
  FROM embeddings),
v AS (
  SELECT vid, sub,
         list_transform(range(sub * {PQ_D} + 1, sub * {PQ_D} + {PQ_D} + 1),
                        i -> fe[i]) AS e
  FROM v0, range(0, {PQ_M}) t(sub)),
cent0 AS (
  SELECT sub, rn - 1 AS cluster, e AS c FROM (
    SELECT sub, e, row_number() OVER (PARTITION BY sub ORDER BY vid) AS rn
    FROM v) WHERE rn <= {PQ_K})"""


def _sql_pq_assign(cent: str, out: str) -> str:
    dist = _sql_pq_dist("v.e", "c.c")
    return f"""{out} AS (
  SELECT vid, sub, cluster, e, dist FROM (
    SELECT v.vid, v.sub, c.cluster, v.e, {dist} AS dist,
           row_number() OVER (PARTITION BY v.vid, v.sub
                              ORDER BY {dist} ASC, c.cluster ASC) AS rk
    FROM v JOIN {cent} c USING (sub))
  WHERE rk = 1)"""


def _sql_pq_update(assigned: str, prev: str, out: str) -> str:
    return f"""{out}_m AS (
  SELECT sub, cluster, i, {sql_rnd('avg(e[i])', 6)} AS mu
  FROM {assigned}, range(1, {PQ_D + 1}) t(i) GROUP BY sub, cluster, i),
{out}_l AS (
  SELECT sub, cluster, list(mu ORDER BY i) AS c FROM {out}_m
  GROUP BY sub, cluster),
{out} AS (
  SELECT p.sub, p.cluster, coalesce(l.c, p.c) AS c
  FROM {prev} p LEFT JOIN {out}_l l
    ON l.sub = p.sub AND l.cluster = p.cluster)"""


_SQL_PQ_CHAIN = f"""{_SQL_PQ_V},
{_sql_pq_assign('cent0', 'a1')},
{_sql_pq_update('a1', 'cent0', 'cent1')},
{_sql_pq_assign('cent1', 'a2')},
{_sql_pq_update('a2', 'cent1', 'cent2')},
{_sql_pq_assign('cent2', 'a3')}"""


SQL_Q97 = f"""
WITH {_SQL_PQ_CHAIN}
SELECT vid AS vec_id, sub::BIGINT AS sub, cluster::BIGINT AS code FROM a3
"""


def q98_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance ANN (Jégou et al. 2011 §III): queries
    stay exact, corpus vectors are scored as a sum of m distance-table
    lookups over their codes. The broadcast table is queries × m × k
    rows; only the 12-bit codes stream. Ranking (ADC asc, id asc) is
    fully value-hash oracled through the same SQL codebook replay as
    q97."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    books, codes = _pq_shared(spark, sf_dir)
    return S.ann_topk_pq(
        emb, queries, "vec_id", "embedding", EMB_DIM,
        m=PQ_M, k=ANN_K, codebooks=books, codes=codes,
    )


_SQL_PQ_ADC = f"""books AS (SELECT sub, cluster, c FROM cent2),
qsub AS (
  SELECT vid AS query_id, sub, e AS qe FROM v
  WHERE vid <= {ANN_NUM_QUERIES}),
dtab AS (
  SELECT q.query_id, q.sub, b.cluster AS code,
         {sql_rnd(f"list_sum(list_transform(range(1, {PQ_D + 1}), "
                  "i -> (q.qe[i] - b.c[i]) * (q.qe[i] - b.c[i])))", 6)}
           AS dsub
  FROM qsub q JOIN books b USING (sub)),
codes AS (SELECT vid AS neighbor_id, sub, cluster AS code FROM a3),
scored AS (
  SELECT d.query_id, cd.neighbor_id, {sql_rnd('sum(d.dsub)', 6)} AS adc
  FROM codes cd JOIN dtab d ON d.sub = cd.sub AND d.code = cd.code
  WHERE cd.neighbor_id <> d.query_id
  GROUP BY d.query_id, cd.neighbor_id)"""


SQL_Q98 = f"""
WITH {_SQL_PQ_CHAIN},
{_SQL_PQ_ADC}
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc ASC, neighbor_id ASC)::BIGINT
              AS rank
  FROM scored)
WHERE rank <= {ANN_K}
"""


PQ_RERANK = 100


def q99_pq_rerank(spark, sf_dir):
    """PQ ADC + exact re-rank (Jégou et al. 2011 §V): the ADC pass
    shortlists 100 candidates per query over the 12-bit codes, then
    only the shortlist joins back full vectors for an exact cosine
    top-k — the production recall lever (≈0.8 top-5 overlap with
    exact search here, vs ≈0.2 for raw ADC, while exactly scoring a
    fifth of the corpus). Shortlist AND re-rank replay in SQL, so the
    final ranking is value-hash oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    books, codes = _pq_shared(spark, sf_dir)
    return S.ann_topk_pq(
        emb, queries, "vec_id", "embedding", EMB_DIM,
        m=PQ_M, k=ANN_K, codebooks=books, codes=codes,
        rerank=PQ_RERANK,
    )


SQL_Q99 = f"""
WITH {_SQL_PQ_CHAIN},
{_SQL_PQ_ADC},
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id ASC) AS rk
    FROM scored)
  WHERE rk <= {PQ_RERANK}),
n AS (
  SELECT vid, fe, sqrt(list_sum(list_transform(fe, x -> x * x))) AS nrm
  FROM v0),
ref AS (
  SELECT s.query_id, s.neighbor_id,
         {sql_rnd('list_dot_product(q.fe, c.fe) / (q.nrm * c.nrm)', 4)}
           AS cosine
  FROM short s
  JOIN n q ON q.vid = s.query_id
  JOIN n c ON c.vid = s.neighbor_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)::BIGINT
              AS rank
  FROM ref)
WHERE rank <= {ANN_K}
"""


IVFPQ_LISTS = 8


def q100_ann_ivfpq(spark, sf_dir):
    """IVFADC (Jégou et al. 2011 §IV): IVF coarse routing over PQ
    codes — the billion-vector-store architecture. Probing ALL lists
    reduces exactly to the plain ADC ranking, so SQL_Q98 is this
    query's oracle and the whole composition (Arrow list assignment,
    probe routing, code join, distance-table scoring) is hash-checked
    end to end; the sub-exhaustive nprobe<K configuration is the
    production path, recall-tested in tests/test_llm_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    centroids, assigned = S.ivf_train(emb, "vec_id", "embedding",
                                      k_lists=IVFPQ_LISTS, iters=1,
                                      return_assignment=True)
    books, codes = _pq_shared(spark, sf_dir)
    out = S.ann_topk_ivfpq(
        emb, queries_df, "vec_id", "embedding", EMB_DIM,
        centroids, books, codes, m=PQ_M, k=ANN_K, nprobe=IVFPQ_LISTS,
        assigned=assigned,
    )
    out._cached_inputs = [assigned]  # see functions.dedup.release
    return out


def q101_corpus_card(spark, sf_dir):
    """Corpus card: the per-(source, language) datasheet a curator
    publishes with a training set (Gebru et al. 2021 "Datasheets for
    Datasets" — the summary table variant): doc/token counts, mean
    quality, mean punctuation ratio per cell, composing the oracled
    q37 language-id and q38 quality signals into one grouped report.
    One codegen map stage + one small agg; every cell value-hash
    oracled. The CLI's `card` subcommand prints this same
    functions.text.corpus_card frame."""
    docs = _t(spark, sf_dir, "documents")
    return TX.corpus_card(docs, "text", "source")


SQL_Q101 = f"""
WITH f AS (
  SELECT doc_id, source,
         length(text)::DOUBLE AS n_chars,
         length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS word_chars,
         len(regexp_extract_all(text, '\\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop,
         {_sql_lang_score('en')} AS s_en, {_sql_lang_score('de')} AS s_de,
         {_sql_lang_score('es')} AS s_es, {_sql_lang_score('fr')} AS s_fr,
         {_sql_lang_score('zh')} AS s_zh
  FROM documents),
per_doc AS (
  SELECT source,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                   AND s_en >= s_zh THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
              WHEN s_fr >= s_zh THEN 'fr'
              ELSE 'zh' END AS pred_lang,
         n_words,
         {sql_rnd("least(n_words / 50.0, 1.0) * 0.4 "
                  "+ least(CASE WHEN n_words > 0 THEN n_stop / n_words "
                  "        ELSE 0.0 END * 5.0, 1.0) * 0.4 "
                  "+ (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars "
                  "               ELSE 0.0 END * 10.0, 1.0)) * 0.2", 4)}
           AS quality,
         {sql_rnd("CASE WHEN n_chars > 0 THEN n_punct / n_chars "
                  "ELSE 0.0 END", 4)} AS punct_ratio
  FROM f)
SELECT source, pred_lang, count(*)::BIGINT AS n_docs,
       sum(n_words)::BIGINT AS n_tokens,
       {sql_rnd('avg(quality)', 4)} AS avg_quality,
       {sql_rnd('avg(punct_ratio)', 4)} AS avg_punct_ratio
FROM per_doc GROUP BY source, pred_lang
"""


REPEAT_BUDGET = 20_000
REPEAT_MAX_EPOCHS = 4.0


def q102_repeat_schedule(spark, sf_dir):
    """Data-constrained repeat schedule (Muennighoff et al. 2023):
    epochs per source to fill a 20k-token budget at the q64 target
    mixture, capped at 4 epochs — with the effective tokens actually
    yielded and the shortfall the cap leaves. On this corpus the
    small high-target sources hit the cap (shortfall > 0) while the
    rest run fractional epochs, so both branches are live in the
    gate."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return TX.repeat_schedule(
        docs, "source", "text", MIX_TARGETS,
        token_budget=REPEAT_BUDGET, max_epochs=REPEAT_MAX_EPOCHS,
    )


SQL_Q102 = rf"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}')))::BIGINT
           AS n_tokens
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3')
  GROUP BY source),
tgt(source, target_share) AS (
  VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
j AS (
  SELECT p.source, n_docs, n_tokens, target_share,
         target_share * {REPEAT_BUDGET}.0 AS desired,
         least({REPEAT_MAX_EPOCHS},
               {sql_rnd(f'(target_share * {REPEAT_BUDGET}.0)'
                        ' / n_tokens::DOUBLE', 8)}) AS epochs
  FROM per p JOIN tgt USING (source)),
k AS (
  SELECT source, n_docs, n_tokens, target_share,
         {sql_rnd('desired', 2)} AS desired_tokens,
         {sql_rnd('epochs', 6)} AS epochs,
         {sql_rnd('epochs * n_tokens::DOUBLE', 2)} AS effective_tokens
  FROM j)
SELECT source, n_docs, n_tokens, target_share, desired_tokens, epochs,
       effective_tokens,
       {sql_rnd('greatest(0.0, desired_tokens - effective_tokens)', 2)}
         AS shortfall
FROM k
"""


def q103_tokenizer_fertility(spark, sf_dir):
    """Per-source tokenizer fertility report: BPE-style pre-tokens per
    whitespace word and bytes per pre-token — the efficiency numbers a
    tokenizer team reads per language/source before committing a vocab
    (high fertility = the tokenizer fragments that source; bytes/token
    = compression). Uses the deterministic BPE-ish pre-tokenizer so
    every cell is value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.token_counts(docs, "text")
    n_bytes = F.octet_length("text")  # UTF-8 bytes, not characters
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").alias("n_words"),
        F.sum("n_bpe_tokens").alias("n_pretokens"),
        F.sum(n_bytes).cast("bigint").alias("n_bytes"),
        rnd(
            F.sum("n_bpe_tokens") / F.sum("n_ws_tokens").cast("double"), 4
        ).alias("fertility"),
        rnd(
            F.sum(n_bytes) / F.sum("n_bpe_tokens").cast("double"),
            4,
        ).alias("bytes_per_token"),
    )


SQL_Q103 = rf"""
WITH f AS (
  SELECT source,
         len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}'))::BIGINT
           AS n_ws,
         len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}'))::BIGINT
           AS n_bpe,
         strlen(text)::BIGINT AS n_bytes
  FROM documents)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_ws)::BIGINT AS n_words,
       sum(n_bpe)::BIGINT AS n_pretokens,
       sum(n_bytes)::BIGINT AS n_bytes,
       {sql_rnd('sum(n_bpe)::DOUBLE / sum(n_ws)', 4)} AS fertility,
       {sql_rnd('sum(n_bytes)::DOUBLE / sum(n_bpe)', 4)} AS bytes_per_token
FROM f GROUP BY source
"""




QB_BUDGET = 1500  # per-source token budget; binding at every gate SF


def q105_budget_trim(spark, sf_dir):
    """Per-source token-budget trimming (functions/text.py:
    budget_select): keep each source's best documents — greedy in
    (quality DESC, doc_id ASC) order — until the token budget fills.
    The complement of q102's repeat schedule: q102 plans epochs for
    sources too SMALL for their mixture share; this trims sources too
    LARGE. One source-keyed shuffle + an explicit-ROWS running sum."""
    docs = _t(spark, sf_dir, "documents")
    return TX.budget_select(docs, "text", "doc_id", "source", QB_BUDGET)


# The q105/q116/q119 document quality score (DuckDB side).
_SQL_QUALITY = sql_rnd(
    "least(n_words / 50.0, 1.0) * 0.4"
    " + least(CASE WHEN n_words > 0 THEN n_stop / n_words"
    " ELSE 0.0 END * 5.0, 1.0) * 0.4"
    " + (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars"
    " ELSE 0.0 END * 10.0, 1.0)) * 0.2", 4)

SQL_Q105 = rf"""
WITH f AS (
  SELECT doc_id, source,
         length(text)::DOUBLE AS n_chars,
         len(regexp_extract_all(text, '\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop
  FROM documents),
q AS (
  SELECT doc_id, source, n_words::BIGINT AS n_tokens,
         {_SQL_QUALITY} AS quality
  FROM f)
SELECT doc_id, source, n_tokens, quality,
       sum(n_tokens) OVER (PARTITION BY source
                           ORDER BY quality DESC, doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          )::BIGINT AS cum_tokens,
       (CASE WHEN sum(n_tokens) OVER (PARTITION BY source
                                      ORDER BY quality DESC, doc_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) <= {QB_BUDGET}
             THEN 1 ELSE 0 END)::INTEGER AS kept
FROM q
"""



RS_K, RS_MIN_TOKENS = 8, 16

# One duplicated-positional-gram frame serves BOTH span detectors
# (q106 report, q107 apply) — identical corpus, identical k, identical
# hashed→occ→dup prefix. Bounded: one row per DUPLICATED gram
# position, not per corpus token. Session-lived like the family memos.
@session_memo("_memo_span_dup")
def _span_dup_shared(spark, sf_dir) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.span_dup_frame(docs, "text", "doc_id", k=RS_K).cache()


def q106_repeated_spans(spark, sf_dir):
    """Maximal repeated-substring spans (functions/dedup.py:
    repeated_spans — the ExactSubstr dedup semantics of Lee et al.
    2022 via stride-1 gram-hash run merging): every unaligned
    boilerplate span of ≥ 16 tokens that occurs more than once in the
    corpus, per document, with its start position and spread."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.repeated_spans(docs, "text", "doc_id",
                            k=RS_K, min_tokens=RS_MIN_TOKENS,
                            dup=_span_dup_shared(spark, sf_dir))


SQL_Q106 = rf"""
WITH v AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
g AS (
  SELECT doc, i - 1 AS pos,
         CAST(('0x' || substr(md5(array_to_string(w[i:i+{RS_K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc, w, unnest(range(1, len(w) - {RS_K - 2})) AS i FROM v)),
occ AS (SELECT h, count(*)::BIGINT AS n_occ FROM g GROUP BY h),
dup AS (SELECT g.doc, g.pos, occ.n_occ
        FROM g JOIN occ USING (h) WHERE occ.n_occ > 1),
runs AS (
  SELECT doc, pos, n_occ,
         CASE WHEN pos = lag(pos) OVER (PARTITION BY doc ORDER BY pos) + 1
              THEN 0 ELSE 1 END AS new_run
  FROM dup),
spans AS (
  SELECT doc, pos, n_occ,
         sum(new_run) OVER (PARTITION BY doc ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run
  FROM runs)
SELECT doc AS doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) - min(pos) + {RS_K})::BIGINT AS span_tokens,
       max(n_occ)::BIGINT AS max_occ
FROM spans GROUP BY doc, run
HAVING max(pos) - min(pos) + {RS_K} >= {RS_MIN_TOKENS}
"""



def q107_span_dedup_apply(spark, sf_dir):
    """The ExactSubstr APPLY (functions/dedup.py:repeated_spans_cut):
    cut every repeated ≥16-token span except the first emitted span of
    its family — min (doc, span_start) over the spans sharing the
    opening gram, guaranteeing one survivor even when the raw gram's
    first occurrence is mid-run or in a below-threshold partial copy —
    returning the rewritten text with audit counts (Lee et al. 2022
    "cut the duplicated bytes"), value-hash oracled on the text."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.repeated_spans_cut(docs, "text", "doc_id",
                                k=RS_K, min_tokens=RS_MIN_TOKENS,
                                dup=_span_dup_shared(spark, sf_dir))


SQL_Q107 = rf"""
WITH v AS (
  SELECT doc_id AS doc,
         string_split_regex(lower(trim(text)), '\s+') AS w,
         string_split_regex(trim(text), '\s+') AS wo
  FROM documents),
g AS (
  SELECT doc, i - 1 AS pos,
         CAST(('0x' || substr(md5(array_to_string(w[i:i+{RS_K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc, w, unnest(range(1, len(w) - {RS_K - 2})) AS i FROM v)),
occ AS (SELECT h, count(*)::BIGINT AS n_occ FROM g GROUP BY h),
dup AS (SELECT g.doc, g.pos, g.h
        FROM g JOIN occ USING (h) WHERE occ.n_occ > 1),
runs AS (
  SELECT doc, pos, h,
         CASE WHEN pos = lag(pos) OVER (PARTITION BY doc ORDER BY pos) + 1
              THEN 0 ELSE 1 END AS new_run
  FROM dup),
srows AS (
  SELECT doc, pos, h,
         sum(new_run) OVER (PARTITION BY doc ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run
  FROM runs),
spans AS (
  SELECT doc, min(pos) AS span_start,
         max(pos) - min(pos) + {RS_K} AS span_tokens,
         min_by(h, pos) AS h_start
  FROM srows GROUP BY doc, run
  HAVING max(pos) - min(pos) + {RS_K} >= {RS_MIN_TOKENS}),
keep AS (
  SELECT h_start,
         min(struct_pack(doc := doc, span_start := span_start)) AS kp
  FROM spans GROUP BY h_start),
cut AS (
  SELECT s.doc, s.span_start AS cut_start,
         s.span_start + s.span_tokens AS cut_end
  FROM spans s JOIN keep k USING (h_start)
  WHERE k.kp.doc != s.doc OR k.kp.span_start != s.span_start),
toks AS (
  SELECT doc, i - 1 AS pos, wo[i] AS w
  FROM (SELECT doc, wo, unnest(range(1, len(wo) + 1)) AS i FROM v)),
kept AS (
  SELECT t.doc, t.pos, t.w FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM cut c
                    WHERE c.doc = t.doc AND t.pos >= c.cut_start
                      AND t.pos < c.cut_end)),
reb AS (
  SELECT doc, array_to_string(list(w ORDER BY pos), ' ') AS text_clean,
         count(*)::BIGINT AS n_tokens_kept
  FROM kept GROUP BY doc),
tot AS (SELECT doc, count(*)::BIGINT AS n_total FROM toks GROUP BY doc),
ncs AS (SELECT doc, count(*)::BIGINT AS n_spans_cut FROM cut GROUP BY doc)
SELECT tot.doc AS doc_id,
       coalesce(reb.text_clean, '') AS text_clean,
       coalesce(reb.n_tokens_kept, 0)::BIGINT AS n_tokens_kept,
       (tot.n_total - coalesce(reb.n_tokens_kept, 0))::BIGINT AS n_cut_tokens,
       coalesce(ncs.n_spans_cut, 0)::BIGINT AS n_spans_cut
FROM tot LEFT JOIN reb USING (doc) LEFT JOIN ncs USING (doc)
"""


def q122_decontaminate_spans(spark, sf_dir):
    """Surgical span-level decontamination (functions/dedup.py:
    decontaminate_spans, r8): eval docs (doc_id % 50 == 0, the q62
    convention) leak VERBATIM into planted training documents
    (framed by neutral words); the operator cuts exactly the leaked
    runs and keeps the rest of each document — the middle ground
    between q62/q81's drop-the-document rule and doing nothing.
    Value-hash oracled ON THE REWRITTEN TEXT (the q107 discipline);
    eval docs shorter than min_tokens survive uncut (both branches
    live in the gate)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 50 == 0)
    clean = docs.where(F.col("doc_id") % 50 != 0)
    leaked = ev.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(
            F.lit("framing intro words alpha beta "),
            F.col("text"),
            F.lit(" closing frame words"),
        ).alias("text"),
    )
    train = clean.unionByName(leaked)
    return D.decontaminate_spans(train, ev, "text", "doc_id",
                                 k=RS_K, min_tokens=RS_MIN_TOKENS)


SQL_Q122 = rf"""
WITH base AS (SELECT doc_id, text FROM documents),
evd AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
train AS (
  SELECT doc_id, text FROM base WHERE doc_id % 50 != 0
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET} AS doc_id,
         'framing intro words alpha beta ' || text
           || ' closing frame words' AS text
  FROM evd),
v AS (
  SELECT doc_id AS doc,
         string_split_regex(lower(trim(text)), '\s+') AS w,
         string_split_regex(trim(text), '\s+') AS wo
  FROM train),
ve AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM evd),
evg AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(array_to_string(w[i:i+{RS_K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc, w, unnest(range(1, len(w) - {RS_K - 2})) AS i FROM ve)),
g AS (
  SELECT doc, i - 1 AS pos,
         CAST(('0x' || substr(md5(array_to_string(w[i:i+{RS_K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc, w, unnest(range(1, len(w) - {RS_K - 2})) AS i FROM v)),
dup AS (
  SELECT g.doc, g.pos FROM g
  WHERE EXISTS (SELECT 1 FROM evg WHERE evg.h = g.h)),
runs AS (
  SELECT doc, pos,
         CASE WHEN pos = lag(pos) OVER (PARTITION BY doc ORDER BY pos) + 1
              THEN 0 ELSE 1 END AS new_run
  FROM dup),
srows AS (
  SELECT doc, pos,
         sum(new_run) OVER (PARTITION BY doc ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run
  FROM runs),
cut AS (
  SELECT doc, min(pos) AS cut_start, max(pos) + {RS_K} AS cut_end
  FROM srows GROUP BY doc, run
  HAVING max(pos) + {RS_K} - min(pos) >= {RS_MIN_TOKENS}),
toks AS (
  SELECT doc, i - 1 AS pos, wo[i] AS w
  FROM (SELECT doc, wo, unnest(range(1, len(wo) + 1)) AS i FROM v)),
kept AS (
  SELECT t.doc, t.pos, t.w FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM cut c
                    WHERE c.doc = t.doc AND t.pos >= c.cut_start
                      AND t.pos < c.cut_end)),
reb AS (
  SELECT doc, array_to_string(list(w ORDER BY pos), ' ') AS text_clean,
         count(*)::BIGINT AS n_tokens_kept
  FROM kept GROUP BY doc),
tot AS (SELECT doc, count(*)::BIGINT AS n_total FROM toks GROUP BY doc),
ncs AS (SELECT doc, count(*)::BIGINT AS n_spans_cut FROM cut GROUP BY doc)
SELECT tot.doc AS doc_id,
       coalesce(reb.text_clean, '') AS text_clean,
       coalesce(reb.n_tokens_kept, 0)::BIGINT AS n_tokens_kept,
       (tot.n_total - coalesce(reb.n_tokens_kept, 0))::BIGINT AS n_cut_tokens,
       coalesce(ncs.n_spans_cut, 0)::BIGINT AS n_spans_cut
FROM tot LEFT JOIN reb USING (doc) LEFT JOIN ncs USING (doc)
"""


def q108_decon_semantic(spark, sf_dir):
    """Embedding-level train/eval decontamination (functions/
    similarity.py:decontaminate_semantic): the semantic complement of
    the n-gram (q62) and winnowing (q81) passes — eval vectors
    (vec_id % 50 == 0, the q62 convention) broadcast against the
    training corpus, each train vector reduced to its max cosine +
    nearest eval id, flagged at the q34 threshold."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.where(F.col("vec_id") % 50 == 0)
    tr = emb.where(F.col("vec_id") % 50 != 0)
    return S.decontaminate_semantic(
        tr, ev, "vec_id", "embedding", tau=COSINE_DUP_TAU
    )


SQL_Q108 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
ev AS (SELECT * FROM n WHERE vec_id % 50 = 0),
tr AS (SELECT * FROM n WHERE vec_id % 50 <> 0),
s AS (
  SELECT tr.vec_id, ev.vec_id AS eval_id,
         {sql_rnd('list_dot_product(tr.e, ev.e) / (tr.nrm * ev.nrm)', 4)}
           AS sim
  FROM tr CROSS JOIN ev),
mx AS (
  SELECT vec_id,
         max(struct_pack(sim := sim, neg_eval := -eval_id)) AS mm
  FROM s GROUP BY vec_id)
SELECT vec_id, mm.sim AS max_eval_sim,
       (-mm.neg_eval)::BIGINT AS nearest_eval_id,
       (CASE WHEN mm.sim >= {COSINE_DUP_TAU} THEN 1 ELSE 0 END)::BIGINT
         AS contaminated
FROM mx
"""


PCA_ITERS, PCA_DIM = 3, 64


def _pca_model_frame(spark, got) -> DataFrame:
    """Bench view of the shared PCA training: the model as a small
    frame (d, mu, v1..vD), so the bench attributes the training cost
    to its own ``_memo_pca_model`` line."""
    comps, mu, _w0 = got
    rows = [(d, mu[d], *[float(c[d]) for c in comps])
            for d in range(PCA_DIM)]
    return spark.createDataFrame(
        rows, ["d", "mu"] + [f"v{k + 1}" for k in range(len(comps))])


# q109 (top-1 projection), q112 (All-but-the-Top residual) and q118
# (top-D projection) each trained the SAME power-iteration model on
# the SAME embeddings corpus — 3 independent trainings of ~D·iters
# collect-jobs each (q109/q112's top-1 is arithmetically component 1
# of q118's deflated top-D chain, see pca_power_topd_train). One
# session-lived training (the _qc_scored_shared contract: model-sized
# driver state, D·dim+dim floats, plus the checkpointed centered
# frame) now feeds all three.
@session_memo("_memo_pca_model", view=_pca_model_frame)
def _pca_shared(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return S.pca_power_topd_train(
        emb, "vec_id", "embedding", dim=PCA_DIM,
        n_components=PCA_TOPD, iters=PCA_ITERS,
    )


def q109_pca_projection(spark, sf_dir):
    """Top-principal-component projection by distributed power
    iteration (functions/similarity.py:pca_power_topd_train, one
    component) — an ORACLED
    iterative algorithm like q104's logreg: the DuckDB twin unrolls
    the μ → (score, update, normalize, sign-fix) chain per iteration
    with the same rounding ladder and reproduces every projection
    bit-for-bit. Since r12 the model comes from the shared session
    training (``_pca_shared`` — component 1 of the deflated top-D
    chain IS the top-1 iterate, same rounding ladder, same values);
    the projection reads the checkpointed centered frame."""
    comps, _mu, w0 = _pca_shared(spark, sf_dir)
    return S.pca_topd_project(w0, "vec_id", comps[:1])


def _sql_pca() -> str:
    """The power iteration as one CTE chain — the exact arithmetic
    pca_power_topd_train runs for its first component: μ rnd6; per
    iteration s rnd8, u rnd6, norm rnd8, v rnd6 with a v[0] ≥ 0 sign
    fix applied AFTER rounding."""
    import math

    v0 = repr(round(1.0 / math.sqrt(PCA_DIM), 8))
    parts = [f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
ex AS (
  SELECT vec_id, i - 1 AS d, e[i] AS x
  FROM v, unnest(range(1, {PCA_DIM + 1})) t(i)),
mu AS (SELECT d, {sql_rnd('avg(x)', 6)} AS mu FROM ex GROUP BY d),
cx AS (SELECT ex.vec_id, ex.d, ex.x - mu.mu AS c
       FROM ex JOIN mu USING (d)),
v0 AS (SELECT d, {v0} AS vv FROM mu)"""]
    for t in range(1, PCA_ITERS + 1):
        parts.append(f"""s{t} AS (
  SELECT cx.vec_id, {sql_rnd(f'sum(cx.c * v{t - 1}.vv)', 8)} AS s
  FROM cx JOIN v{t - 1} USING (d) GROUP BY cx.vec_id)""")
        parts.append(f"""u{t} AS (
  SELECT cx.d, {sql_rnd(f'sum(s{t}.s * cx.c)', 6)} AS u
  FROM cx JOIN s{t} USING (vec_id) GROUP BY cx.d)""")
        parts.append(f"""n{t} AS (
  SELECT {sql_rnd('sqrt(sum(u * u))', 8)} AS nrm FROM u{t})""")
        parts.append(f"""w{t} AS (
  SELECT d, {sql_rnd(f'u / (SELECT nrm FROM n{t})', 6)} AS vv
  FROM u{t})""")
        parts.append(f"""v{t} AS (
  SELECT d, CASE WHEN (SELECT vv FROM w{t} WHERE d = 0) < 0
                 THEN -vv ELSE vv END AS vv FROM w{t})""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT cx.vec_id, {sql_rnd(f'sum(cx.c * v{PCA_ITERS}.vv)', 6)} AS pc1_proj
FROM cx JOIN v{PCA_ITERS} USING (d) GROUP BY cx.vec_id
"""
    )


SQL_Q109 = _sql_pca()


def q112_remove_top_direction(spark, sf_dir):
    """All-but-the-Top residuals (functions/similarity.py:
    apply_top1_removal, Mu & Viswanath 2018): subtract the corpus mean and
    project out the q109 component — one Arrow map stage over the
    corpus; the full (mean, iterate, normalize, project, subtract)
    chain is value-hash oracled ON THE RESIDUAL ARRAYS, serialized as
    micro-unit integers (rnd6 × 10⁶ → BIGINT, the q75 comma-string
    convention — double→string formatting differs across engines,
    int→string does not). Since r12 the (v, mu) model comes from the
    shared session training (``_pca_shared``)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    comps, mu, _w0 = _pca_shared(spark, sf_dir)
    r = S.apply_top1_removal(emb, "vec_id", "embedding",
                             comps[0], mu)
    return r.select(
        "vec_id",
        F.concat_ws(
            ",",
            F.transform(
                "resid",
                lambda x: F.round(x * 1e6).cast("long").cast("string"),
            ),
        ).alias("resid_micro"),
    )


def _sql_pca_resid() -> str:
    """q109's unrolled chain, extended two CTEs: the per-vector
    projection p, then the ordered residual list rnd6(c − p·v_d)."""
    base = _sql_pca()
    head = base[: base.rindex("\nSELECT")]
    return (
        head
        + f""",
pj AS (
  SELECT cx.vec_id, {sql_rnd(f'sum(cx.c * v{PCA_ITERS}.vv)', 6)} AS p
  FROM cx JOIN v{PCA_ITERS} USING (d) GROUP BY cx.vec_id)
SELECT cx.vec_id,
       array_to_string(
         list(CAST(round(({sql_rnd(f'cx.c - pj.p * v{PCA_ITERS}.vv', 6)})
                         * 1000000) AS BIGINT) ORDER BY cx.d),
         ',') AS resid_micro
FROM cx JOIN v{PCA_ITERS} USING (d) JOIN pj USING (vec_id)
GROUP BY cx.vec_id
"""
    )


SQL_Q112 = _sql_pca_resid()


PCA_TOPD = 2


def q118_pca_topd(spark, sf_dir):
    """Top-D principal components by power iteration WITH DEFLATION
    (functions/similarity.py:pca_power_topd_train — the full All-but-the-Top
    prescription, r8 closing the 'PCA is top-1 only' gap): component
    k iterates over vectors deflated by components 1..k−1, every
    deflation step using the rnd8 score ladder so the WHOLE
    multi-component chain — 2 components × 3 iterations here — is
    value-hash oracled, the deepest iterative oracle in the registry
    after q104. Since r12 the training comes from the shared session
    model (``_pca_shared``) — q109/q112 run the same chain's
    component 1, so the corpus trains once, not three times."""
    comps, _mu, w0 = _pca_shared(spark, sf_dir)
    return S.pca_topd_project(w0, "vec_id", comps)


def _sql_pca_topd() -> str:
    """The deflated power iteration as one CTE chain: per component k,
    q109's (score rnd8, update rnd6, norm rnd8, v rnd6, sign-fix)
    iterate over cx{k−1}, then the rnd8 deflation projection builds
    cx{k}. Final projections: rnd6 dot of each component with ITS
    deflated input — exactly pca_topd_project's output arithmetic."""
    import math

    v0 = repr(round(1.0 / math.sqrt(PCA_DIM), 8))
    # AS MATERIALIZED: DuckDB inlines plain CTEs per reference — a
    # D-component chain references cx{k} dozens of times, which
    # re-plans (and re-opens) the base parquet each time and trips
    # the open-file limit; materializing pins each stage to one scan
    parts = [f"""v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
ex AS MATERIALIZED (
  SELECT vec_id, i - 1 AS d, e[i] AS x
  FROM v, unnest(range(1, {PCA_DIM + 1})) t(i)),
mu AS MATERIALIZED (SELECT d, {sql_rnd('avg(x)', 6)} AS mu FROM ex GROUP BY d),
cx0 AS MATERIALIZED (SELECT ex.vec_id, ex.d, ex.x - mu.mu AS c
        FROM ex JOIN mu USING (d))"""]
    for k in range(1, PCA_TOPD + 1):
        src = f"cx{k - 1}"
        parts.append(f"""c{k}v0 AS (SELECT d, {v0} AS vv FROM mu)""")
        for t in range(1, PCA_ITERS + 1):
            parts.append(f"""c{k}s{t} AS (
  SELECT {src}.vec_id, {sql_rnd(f'sum({src}.c * c{k}v{t - 1}.vv)', 8)} AS s
  FROM {src} JOIN c{k}v{t - 1} USING (d) GROUP BY {src}.vec_id)""")
            parts.append(f"""c{k}u{t} AS (
  SELECT {src}.d, {sql_rnd(f'sum(c{k}s{t}.s * {src}.c)', 6)} AS u
  FROM {src} JOIN c{k}s{t} USING (vec_id) GROUP BY {src}.d)""")
            parts.append(f"""c{k}n{t} AS (
  SELECT {sql_rnd('sqrt(sum(u * u))', 8)} AS nrm FROM c{k}u{t})""")
            parts.append(f"""c{k}w{t} AS (
  SELECT d, {sql_rnd(f'u / (SELECT nrm FROM c{k}n{t})', 6)} AS vv
  FROM c{k}u{t})""")
            parts.append(f"""c{k}v{t} AS (
  SELECT d, CASE WHEN (SELECT vv FROM c{k}w{t} WHERE d = 0) < 0
                 THEN -vv ELSE vv END AS vv FROM c{k}w{t})""")
        parts.append(f"""pj{k} AS (
  SELECT {src}.vec_id,
         {sql_rnd(f'sum({src}.c * c{k}v{PCA_ITERS}.vv)', 6)} AS pc{k}_proj,
         {sql_rnd(f'sum({src}.c * c{k}v{PCA_ITERS}.vv)', 8)} AS p8
  FROM {src} JOIN c{k}v{PCA_ITERS} USING (d) GROUP BY {src}.vec_id)""")
        if k < PCA_TOPD:
            parts.append(f"""cx{k} AS MATERIALIZED (
  SELECT {src}.vec_id, {src}.d, {src}.c - pj{k}.p8 * c{k}v{PCA_ITERS}.vv AS c
  FROM {src} JOIN c{k}v{PCA_ITERS} USING (d) JOIN pj{k} USING (vec_id))""")
    proj_list = ", ".join(f"pc{k}_proj" for k in range(1, PCA_TOPD + 1))
    joins = " ".join(
        f"JOIN pj{k} USING (vec_id)" for k in range(2, PCA_TOPD + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT pj1.vec_id, {proj_list} FROM pj1 {joins}\n"
    )


SQL_Q118 = _sql_pca_topd()


VOCAB_V = 20


def q110_vocab_coverage(spark, sf_dir):
    """Vocabulary-coverage / OOV audit (functions/text.py:
    vocab_coverage): corpus top-20 word vocabulary (count DESC, word
    ASC ties — a distributed TakeOrderedAndProject heap, never a
    single-partition window), per-document OOV token share."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.vocab_coverage(docs, "text", "doc_id", vocab_size=VOCAB_V)


SQL_Q110 = rf"""
WITH w AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents),
wf AS (SELECT doc, w FROM w WHERE w <> ''),
wc AS (SELECT w, count(*)::BIGINT AS cnt FROM wf GROUP BY w),
vocab AS (SELECT w, 1 AS in_vocab FROM wc
          ORDER BY cnt DESC, w ASC LIMIT {VOCAB_V}),
per AS (
  SELECT wf.doc, count(*)::BIGINT AS n_tokens,
         sum(CASE WHEN vocab.in_vocab IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_oov
  FROM wf LEFT JOIN vocab USING (w) GROUP BY wf.doc)
SELECT d.doc_id,
       coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(per.n_oov, 0)::BIGINT AS n_oov,
       coalesce({sql_rnd('per.n_oov::DOUBLE / per.n_tokens', 4)}, 0.0)
         AS oov_rate
FROM documents d LEFT JOIN per ON per.doc = d.doc_id
"""


EDIT_SIM_TAU = 0.8  # observed gap at the gates: background ≤0.45, dups ≥0.93


def q111_edit_dup_pairs(spark, sf_dir):
    """Character-level near-dup pairs (functions/dedup.py:
    edit_dup_pairs): MinHash-LSH banded candidates verified with EXACT
    JVM Levenshtein — the fuzzy-verify complement of q56's
    exact-Jaccard path. The oracle replays the brute-force all-pairs
    form. Recall vs the oracle is DATA-dependent (spread edits can
    blur shingle Jaccard below any banding threshold — see the
    operator docstring); the operator defaults to the aggressive
    64/32 banding (s50 ≈ 0.18), and on the gate corpora the observed
    edit_sim gap (background ≤ 0.45 vs dups ≥ 0.93) leaves every
    surviving pair sharing nearly all shingles, so equality holds by
    margin, not by construction."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.edit_dup_pairs(docs, "text", "doc_id", tau=EDIT_SIM_TAU)


_EDIT_SIM_EXPR = (
    "1.0 - levenshtein(a.text, b.text)::DOUBLE"
    " / greatest(length(a.text), length(b.text))"
)

SQL_Q111 = f"""
WITH d AS (SELECT doc_id, text FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {sql_rnd(_EDIT_SIM_EXPR, 4)} AS edit_sim
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE {sql_rnd(_EDIT_SIM_EXPR, 4)} >= {EDIT_SIM_TAU}
"""


def q115_seasonal_outliers(spark, sf_dir):
    """Hour-of-day seasonal anomalies (operators/timeseries.py:
    seasonal_outliers): values deviating from their OWN clock-hour's
    (series, hour) baseline — the periodicity-aware complement of
    q20's global z-score, the question the reference's daily charts
    answer by eye."""
    ev = _t(spark, sf_dir, "events")
    out = TS.seasonal_outliers(ev, "ts", "value", ["event_type"],
                               threshold=ZSCORE_TAU)
    return out.select("event_id", "event_type", "hour", "value",
                      "season_z")


SQL_Q115 = f"""
WITH s AS (
  SELECT event_type AS et, extract(hour FROM ts) AS hr,
         avg(value) AS m, stddev_samp(value) AS sd
  FROM events GROUP BY event_type, extract(hour FROM ts))
SELECT event_id, event_type, hr::BIGINT AS hour, value,
       {sql_rnd('(value - m) / sd', 4)} AS season_z
FROM events JOIN s ON event_type = et AND extract(hour FROM ts) = hr
WHERE abs((value - m) / sd) > {ZSCORE_TAU}
"""


WS_K = 20


def q116_weighted_sample(spark, sf_dir):
    """Quality-weighted sampling without replacement, top-20 per
    source (functions/text.py:weighted_sample — Efraimidis & Spirakis
    2006): u^(1/w) keys from the portable hash, w = the q38 quality
    score, fully deterministic and SQL-replayable."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    qs = TX.quality_score(docs, "text").select("doc_id", "source", "quality")
    out = TX.weighted_sample(qs, "doc_id", "source", "quality", k=WS_K)
    return out.select("doc_id", "source", "quality", "es_key", "rk")


SQL_Q116 = rf"""
WITH f AS (
  SELECT doc_id, source,
         length(text)::DOUBLE AS n_chars,
         len(regexp_extract_all(text, '\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop
  FROM documents),
q AS (
  SELECT doc_id, source,
         {_SQL_QUALITY} AS quality
  FROM f),
keyed AS (
  SELECT doc_id, source, quality,
         {sql_rnd(
             'pow((((((doc_id % 1000003) * 2654435761) % 1000003'
             ' + 1000003) % 1000003) + 1.0) / 1000004.0,'
             ' 1.0 / greatest(quality, 0.000000001))', 8)} AS es_key
  FROM q)
SELECT doc_id, source, quality, es_key,
       row_number() OVER (PARTITION BY source
                          ORDER BY es_key DESC, doc_id ASC)::BIGINT AS rk
FROM keyed
QUALIFY rk <= {WS_K}
"""


ES_EPOCHS, ES_SHARDS = 3, 8


def q113_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch global shuffle order (functions/
    text.py:epoch_shuffle): every (epoch, document) gets a replayable
    (shard, pos) address from the portable multiplicative hash family
    — the training-loader permutation without any single global sort
    (shuffle keyed by (epoch, shard), row_number per shard)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return TX.epoch_shuffle(docs, "doc_id",
                            epochs=ES_EPOCHS, num_shards=ES_SHARDS)


SQL_Q113 = f"""
WITH e AS (
  SELECT doc_id, unnest(range(0, {ES_EPOCHS})) AS epoch FROM documents),
k AS (
  SELECT doc_id, epoch,
         ((((doc_id * 31 + epoch * 7919) % 1000003) * 2654435761)
          % {ES_SHARDS} + {ES_SHARDS}) % {ES_SHARDS} AS shard,
         ((((doc_id * 17 + epoch * 104729) % 999983) * 2654435761)
          % 1000000007 + 1000000007) % 1000000007 AS ordkey
  FROM e)
SELECT doc_id, epoch::BIGINT AS epoch, shard::BIGINT AS shard,
       row_number() OVER (PARTITION BY epoch, shard
                          ORDER BY ordkey, doc_id)::BIGINT AS pos
FROM k
"""


SD_V, SD_ALPHA = 20, 0.5


def q114_source_divergence(spark, sf_dir):
    """Pairwise Jensen–Shannon divergence between per-source unigram
    distributions (functions/text.py:source_divergence) — which
    sources actually differ, the mixture-design complement of q64's
    how-much weights."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return TX.source_divergence(docs, "text", "source",
                                vocab_size=SD_V, alpha=SD_ALPHA)


SQL_Q114 = rf"""
WITH t AS (
  SELECT source AS s,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents),
tf AS (SELECT s, w FROM t WHERE w <> ''),
cnts AS (SELECT s, w, count(*)::DOUBLE AS c FROM tf GROUP BY s, w),
vocab AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tf GROUP BY w
                         ORDER BY cnt DESC, w ASC LIMIT {SD_V})),
srcs AS (SELECT DISTINCT s FROM cnts),
grid AS (SELECT srcs.s, vocab.w FROM srcs CROSS JOIN vocab),
vc AS (SELECT grid.s, grid.w, coalesce(cnts.c, 0.0) AS c
       FROM grid LEFT JOIN cnts ON cnts.s = grid.s AND cnts.w = grid.w),
iv AS (SELECT s, sum(c) AS tot FROM vc GROUP BY s),
probs AS (
  SELECT vc.s, vc.w,
         {sql_rnd(f'(vc.c + {SD_ALPHA}) / (iv.tot + {SD_ALPHA * SD_V})', 8)}
           AS p
  FROM vc JOIN iv USING (s))
SELECT a.s AS source_a, b.s AS source_b,
       {sql_rnd(
           '''sum(0.5 * (a.p * ''' + sql_rnd('ln(a.p / ((a.p + b.p) / 2.0))', 8) + '''
                 + b.p * ''' + sql_rnd('ln(b.p / ((a.p + b.p) / 2.0))', 8) + '''))''',
           4,
       )} AS js_div
FROM probs a JOIN probs b ON a.w = b.w AND a.s < b.s
GROUP BY a.s, b.s
"""


QC_POS_SOURCES = ("src0", "src1", "src2", "src3", "src4")
QC_FEATURES = ["x1", "x2", "x3", "x4"]
QC_ITERS, QC_LR = 4, 0.5


def _qc_features(spark, sf_dir):
    """Pseudo-labeled quality features: provenance label (curated
    reference sources positive, like GPT-3's quality filter) + the
    quality_score statistics scaled into comparable ranges — the
    shared functions/classify.py:quality_features definition, so the
    registry query, its SQL twin, and the CLI train on identical
    features."""
    from .functions import classify as C

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return C.quality_features(
        docs, "text", "doc_id", "source", QC_POS_SOURCES
    ).drop("source")


# q104's scored frame feeds q161 (AUC), q168 (kappa) and q174
# (threshold sweep); without a memo each consumer re-pays the 4-scan
# training loop + scoring pass. Same contract as _retrieval_shared.
@session_memo("_memo_qc_scored")
def _qc_scored_shared(spark, sf_dir) -> DataFrame:
    from .functions import classify as C

    # localCheckpoint for the build: logreg_train's count + QC_ITERS
    # gradient scans and the scoring pass otherwise EACH re-ran the
    # regex-heavy quality_features pipeline (6 rebuilds — measured
    # 31.5 s cold at sf0.1, the most expensive repeated frame in the
    # bench) and re-analyzed its lineage per action. Bounded: 5
    # doubles + label per document.
    feats = _qc_features(spark, sf_dir).localCheckpoint()
    w = C.logreg_train(feats, QC_FEATURES, "label",
                       iters=QC_ITERS, lr=QC_LR)
    return C.logreg_score(feats, QC_FEATURES, w).select(
        "doc_id",
        F.col("label").cast("long").alias("label"),
        "p_good",
        "pred",
    ).cache()


def q104_quality_classifier(spark, sf_dir):
    """Pseudo-labeled quality classifier (functions/classify.py):
    4 full-batch logistic-regression steps over the quality features
    with curated-source provenance labels, then a corpus-wide score —
    the CCNet/GPT-3 quality-filter shape as a distributed, ORACLED
    iterative algorithm (the DuckDB twin unrolls the gradient loop
    into one CTE chain and reproduces the weights bit-for-bit).
    Result memoized per (session, sf_dir) for its audit consumers
    (q161/q168/q174)."""
    return _qc_scored_shared(spark, sf_dir)


def _sql_logreg() -> str:
    """The training loop as one CTE chain: w0 = 0; per iteration a
    sigmoid CTE (per-row, 8-digit rnd — collapsing JVM/DuckDB exp ulp
    skew), a gradient CTE (5 sums / n, 6-digit rnd) and a weight CTE
    (w − lr·g, 6-digit rnd) — the exact arithmetic logreg_train runs,
    including the strict left-to-right dot-product order."""
    pos = ", ".join(f"'{s}'" for s in QC_POS_SOURCES)
    parts = [rf"""qstats AS (
  SELECT doc_id, source,
         length(text)::DOUBLE AS n_chars,
         (length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
           AS word_chars,
         len(regexp_extract_all(text, '\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop
  FROM documents),
feat AS (
  SELECT doc_id,
         CASE WHEN source IN ({pos}) THEN 1.0 ELSE 0.0 END AS y,
         {sql_rnd('least(n_words, 400) / 400.0', 6)} AS x1,
         {sql_rnd(sql_rnd('CASE WHEN n_words > 0 THEN word_chars / n_words ELSE 0.0 END', 4) + ' / 10.0', 6)} AS x2,
         {sql_rnd('CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END', 4)} AS x3,
         {sql_rnd('CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END', 4)} AS x4
  FROM qstats),
cnt AS (SELECT count(*)::DOUBLE AS n FROM feat),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)"""]
    def zexpr(prefix_w: str, prefix_x: str) -> str:
        return (f"{prefix_w}.w0 * 1.0 + {prefix_w}.w1 * {prefix_x}.x1 + "
                f"{prefix_w}.w2 * {prefix_x}.x2 + {prefix_w}.w3 * {prefix_x}.x3 + "
                f"{prefix_w}.w4 * {prefix_x}.x4")
    for i in range(1, QC_ITERS + 1):
        sig = sql_rnd(f"1.0 / (1.0 + exp(-({sql_rnd(zexpr('w', 'f'), 8)})))", 8)
        parts.append(f"""s{i} AS (
  SELECT f.y, f.x1, f.x2, f.x3, f.x4, {sig} AS sig
  FROM feat f, w{i - 1} w)""")
        parts.append(f"""g{i} AS (
  SELECT {sql_rnd('sum((sig - y) * 1.0) / any_value(c.n)', 6)} AS g0,
         {sql_rnd('sum((sig - y) * x1) / any_value(c.n)', 6)} AS g1,
         {sql_rnd('sum((sig - y) * x2) / any_value(c.n)', 6)} AS g2,
         {sql_rnd('sum((sig - y) * x3) / any_value(c.n)', 6)} AS g3,
         {sql_rnd('sum((sig - y) * x4) / any_value(c.n)', 6)} AS g4
  FROM s{i}, cnt c)""")
        parts.append(f"""w{i} AS (
  SELECT {sql_rnd(f'w.w0 - {QC_LR} * g.g0', 6)} AS w0,
         {sql_rnd(f'w.w1 - {QC_LR} * g.g1', 6)} AS w1,
         {sql_rnd(f'w.w2 - {QC_LR} * g.g2', 6)} AS w2,
         {sql_rnd(f'w.w3 - {QC_LR} * g.g3', 6)} AS w3,
         {sql_rnd(f'w.w4 - {QC_LR} * g.g4', 6)} AS w4
  FROM w{i - 1} w, g{i} g)""")
    final_sig = sql_rnd(
        f"1.0 / (1.0 + exp(-({sql_rnd(zexpr('w', 'f'), 8)})))", 8
    )
    return ("WITH " + ",\n".join(parts) + f"""
SELECT f.doc_id, f.y::BIGINT AS label,
       {sql_rnd(final_sig, 4)} AS p_good,
       (CASE WHEN {sql_rnd(final_sig, 4)} >= 0.5 THEN 1 ELSE 0 END)::INTEGER
         AS pred
FROM feat f, w{QC_ITERS} w""")


SQL_Q104 = _sql_logreg()


CAL_BINS = 10


def q120_classifier_calibration(spark, sf_dir):
    """Classifier reliability table (functions/classify.py:
    calibration_report, r8): the q104 classifier's predictions
    bucketed by fixed-width probability bins, each bucket's mean
    prediction vs observed label rate — the calibration check a
    curator runs before trusting the keep-threshold. Composes the
    fully-oracled training chain with one map-combinable aggregation;
    no ntile, no global sort. Since r12 the scored frame comes from
    the shared session training (``_qc_scored_shared`` — the same
    feats/iters/lr/rounding as the inline chain this previously
    re-ran from scratch, value-identical by determinism of the
    full-batch GD)."""
    from .functions import classify as C

    return C.calibration_report(_qc_scored_shared(spark, sf_dir),
                                bins=CAL_BINS)


def _sql_calibration() -> str:
    """q104's unrolled gradient chain, final SELECT swapped for the
    fixed-width-bin reliability aggregation."""
    base = _sql_logreg()
    head = base[: base.rindex("\nSELECT")]
    z = ("w.w0 * 1.0 + w.w1 * f.x1 + "
         "w.w2 * f.x2 + w.w3 * f.x3 + "
         "w.w4 * f.x4")
    final_sig = sql_rnd(
        f"1.0 / (1.0 + exp(-({sql_rnd(z, 8)})))", 8
    )
    return (
        head
        + f""",
scored AS (
  SELECT f.y, {sql_rnd(final_sig, 4)} AS p FROM feat f, w{QC_ITERS} w),
ext AS (SELECT min(p) AS pmin, max(p) AS pmax FROM scored),
binned AS (
  SELECT (CASE WHEN e.pmax - e.pmin <= 0 THEN 0
               ELSE least(floor((s.p - e.pmin) / (e.pmax - e.pmin)
                                * {CAL_BINS}), {CAL_BINS - 1}) END)::BIGINT AS bin,
         count(*)::BIGINT AS n,
         {sql_rnd('avg(s.p)', 4)} AS mean_p,
         {sql_rnd('avg(s.y)', 4)} AS frac_good
  FROM scored s, ext e GROUP BY 1)
SELECT bin, n, mean_p, frac_good,
       {sql_rnd('mean_p - frac_good', 4)} AS gap
FROM binned
"""
    )


SQL_Q120 = _sql_calibration()


def q121_incremental_near_dups(spark, sf_dir):
    """Incremental near-dup screening (functions/dedup.py:
    incremental_near_dups, r8): a NEW batch — half genuinely-new
    documents (reversed text: zero shared shingles), half near-dup
    re-crawls of existing corpus documents — screened against the
    EXISTING corpus with portable-family MinHash banding. The near-dup
    sibling of q49's exact anti-join: batch-bands ⨝ ref-bands, never
    |ref|²; every batch document gets an auditable (candidates,
    max est jaccard, verdict) row, all value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.select(
        (F.col("doc_id") + 2 * PLANT_OFFSET).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 3 * PLANT_OFFSET).alias("doc_id"),
            _twin_text_expr(F.col("text"), F.col("doc_id")).alias("text"),
        )
    )
    # Signature reuse (r12, guide §1.2): signatures are pure functions
    # of text. The _memo_minhash_sigs frame over the PLANTED corpus
    # already holds (a) the ref side verbatim (base half = raw
    # documents) and (b) the re-offer batch's signatures (twin half =
    # the same `text || ' zz' || id%97` transform, planted at
    # +PLANT_OFFSET where the batch sits at +3·PLANT_OFFSET — a pure
    # key shift). Only the reversed-text half is genuinely new, so one
    # third of the signature work computes fresh.
    sigs = _minhash_sigs_shared(spark, sf_dir)
    sig_ref = sigs.where(F.col("doc") < PLANT_OFFSET)
    sig_app = sigs.where(F.col("doc") >= PLANT_OFFSET).select(
        (F.col("doc") + 2 * PLANT_OFFSET).alias("doc"), "sig")
    rev = docs.select(
        (F.col("doc_id") + 2 * PLANT_OFFSET).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
    )
    sig_rev = D.minhash_signatures_portable(
        rev, "text", "doc_id", num_hashes=MINHASH_PORT_HASHES)
    return D.incremental_near_dups(
        batch, docs, "text", "doc_id",
        num_hashes=MINHASH_PORT_HASHES, bands=MINHASH_PORT_BANDS,
        max_df=MINHASH_MAX_DF,
        sig_batch=sig_rev.unionByName(sig_app), sig_ref=sig_ref,
    )


def _sql_portable_side(side: str, corpus_cte: str) -> str:
    """Per-side shingle→fp→signature→band CTE chain of the portable
    MinHash family (the q31 machinery, parameterized by side)."""
    params = D.affine_params(MINHASH_PORT_HASHES)
    rows = MINHASH_PORT_HASHES // MINHASH_PORT_BANDS
    hcols = ",\n         ".join(
        f"min((fp * {a} + {b}) % {D.PORTABLE_P})::BIGINT AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_exprs = ", ".join(
        "'" + str(b) + "_' || "
        + " || '_' || ".join(f"h{b * rows + r}" for r in range(rows))
        for b in range(MINHASH_PORT_BANDS)
    )
    hlist = ", ".join(f"h{i}" for i in range(MINHASH_PORT_HASHES))
    return f"""
w{side} AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM {corpus_cte}),
sh{side} AS (
  SELECT DISTINCT doc, shingle FROM (
    SELECT doc, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM w{side} WHERE len(w) >= 3
    UNION ALL
    SELECT doc, array_to_string(w, ' ') AS shingle
    FROM w{side} WHERE len(w) < 3)),
fp{side} AS (
  SELECT doc, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS fp
  FROM sh{side}),
sig{side} AS (SELECT doc, {hcols}
        FROM fp{side} GROUP BY doc),
band{side} AS (SELECT doc, {hlist}, unnest([{band_exprs}]) AS band
               FROM sig{side})"""


def _sql_incremental_near_dups() -> str:
    match_sum = " + ".join(
        f"CASE WHEN b.h{i} = r.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_PORT_HASHES)
    )
    est = sql_rnd(f"({match_sum})::DOUBLE / {MINHASH_PORT_HASHES}", 4)
    return f"""
WITH ref AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + {2 * PLANT_OFFSET} AS doc_id, reverse(text) AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {3 * PLANT_OFFSET} AS doc_id,
         text || ' zz' || CAST(doc_id % 97 AS VARCHAR) AS text
  FROM documents),
{_sql_portable_side('b', 'batch')},
{_sql_portable_side('r', 'ref')},
hot AS (
  SELECT band FROM (SELECT band FROM bandb UNION ALL SELECT band FROM bandr)
  GROUP BY band HAVING count(*) > {MINHASH_MAX_DF}),
bandbc AS (SELECT * FROM bandb b0
           WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.band = b0.band)),
bandrc AS (SELECT * FROM bandr r0
           WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.band = r0.band)),
cand AS (
  SELECT DISTINCT b.doc AS bid, r.doc AS rid, {est} AS est
  FROM bandbc b JOIN bandrc r ON b.band = r.band),
per AS (
  SELECT bid, count(*)::BIGINT AS n_candidates,
         max(est) AS max_est_jaccard
  FROM cand GROUP BY bid)
SELECT batch.doc_id,
       coalesce(per.n_candidates, 0)::BIGINT AS n_candidates,
       coalesce(per.max_est_jaccard, 0.0) AS max_est_jaccard,
       (CASE WHEN coalesce(per.max_est_jaccard, 0.0) >= 0.5
             THEN 1 ELSE 0 END)::INTEGER AS is_dup
FROM batch LEFT JOIN per ON per.bid = batch.doc_id
"""


SQL_Q121 = _sql_incremental_near_dups()


PHASH_MAX_HAMMING = 7
PHASH_MAX_DF = 10_000


def q117_image_dup_pairs(spark, sf_dir):
    """Image perceptual-hash dedup, driver-gated (r8): the checked-in
    deterministic media corpus (tools/gen_media.py — 20 images each
    re-encoded as netpbm/PNG/BMP with identical pixels, 5 lightly-
    edited copies, 1 corrupt payload; the q55 repo-shipped-data
    pattern) is decoded DISTRIBUTIVELY through the real pure-python
    codec layer (functions/multimodal.py:image_phash) and paired by
    the banded-hamming join (phash_dup_pairs, max_df hot-bucket cap
    live in the plan). The oracle replays the ENTIRE pair join —
    banding, hot-band cap, hamming verify — with plain bit ops over
    the generator's stored hash table, so the join semantics are
    value-hash checked cross-engine while decode determinism is
    pinned by those stored hashes matching the live decode."""
    from .functions import multimodal as MM

    media = spark.read.parquet(
        _os.path.join(_DATA_DIR, "media", "media.parquet")
    )
    hashes = MM.image_phash(media)
    return MM.phash_dup_pairs(hashes, max_hamming=PHASH_MAX_HAMMING,
                              max_df=PHASH_MAX_DF)


def _sql_image_dup_pairs() -> str:
    path = _os.path.join(_DATA_DIR, "media", "media_hashes.parquet")
    return f"""
WITH h AS (
  SELECT media_id, phash FROM read_parquet('{path}')
  WHERE phash IS NOT NULL),
banded AS (
  SELECT media_id AS mid, phash AS ph, bi, (phash >> (8 * bi)) & 255 AS bv
  FROM h, unnest([0, 1, 2, 3, 4, 5, 6, 7]) b(bi)),
hot AS (
  SELECT bi, bv FROM banded GROUP BY bi, bv
  HAVING count(*) > {PHASH_MAX_DF}),
kept AS (
  SELECT mid, ph, bi, bv FROM banded
  WHERE NOT EXISTS (SELECT 1 FROM hot
                    WHERE hot.bi = banded.bi AND hot.bv = banded.bv))
SELECT DISTINCT a.mid AS id_a, b.mid AS id_b,
       bit_count(xor(a.ph, b.ph))::BIGINT AS hamming
FROM kept a JOIN kept b ON a.bi = b.bi AND a.bv = b.bv AND a.mid < b.mid
WHERE bit_count(xor(a.ph, b.ph)) <= {PHASH_MAX_HAMMING}
"""


SQL_Q117 = _sql_image_dup_pairs()


def q156_media_inventory(spark, sf_dir):
    """Media-corpus inventory audit (r9): the checked-in media corpus
    decoded DISTRIBUTIVELY through the real codec layer (functions/
    multimodal.py:image_phash — netpbm/PNG/BMP here), rolled up per
    (kind, fmt): payload / decoded / corrupt counts, distinct hash
    count, and the dimension envelope — the "what's actually in this
    bucket and does it decode?" report a multimodal pipeline runs
    before any training job, and the second driver gate (after q117)
    holding the decode stage itself to a stored-truth oracle: the
    DuckDB side aggregates the generator's media_hashes table, so a
    decoder that silently mis-sizes or mis-hashes ANY payload flips
    the value hash. Decode is one Arrow map stage; the rollup is a
    |formats|-row agg."""
    from .functions import multimodal as MM

    media = spark.read.parquet(
        _os.path.join(_DATA_DIR, "media", "media.parquet")
    )
    hashes = MM.image_phash(media)
    meta = media.select("media_id", "kind", "fmt")
    return (
        hashes.join(meta, "media_id")
        .groupBy("kind", "fmt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
            F.count("phash").cast("long").alias("n_decoded"),
            F.sum(F.when(F.col("phash").isNull(), 1).otherwise(0))
             .cast("long").alias("n_corrupt"),
            F.countDistinct("phash").cast("long").alias("n_distinct_hashes"),
            F.min("width").cast("long").alias("min_w"),
            F.max("width").cast("long").alias("max_w"),
            F.min("height").cast("long").alias("min_h"),
            F.max("height").cast("long").alias("max_h"),
        )
    )


def _sql_media_inventory() -> str:
    hpath = _os.path.join(_DATA_DIR, "media", "media_hashes.parquet")
    mpath = _os.path.join(_DATA_DIR, "media", "media.parquet")
    return f"""
SELECT m.kind, m.fmt,
       count(*)::BIGINT AS n_payloads,
       count(h.phash)::BIGINT AS n_decoded,
       sum(CASE WHEN h.phash IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_corrupt,
       count(DISTINCT h.phash)::BIGINT AS n_distinct_hashes,
       min(h.width)::BIGINT AS min_w, max(h.width)::BIGINT AS max_w,
       min(h.height)::BIGINT AS min_h, max(h.height)::BIGINT AS max_h
FROM read_parquet('{hpath}') h
JOIN read_parquet('{mpath}') m USING (media_id)
GROUP BY m.kind, m.fmt
"""


SQL_Q156 = _sql_media_inventory()


ASM_K, ASM_BUDGET, ASM_EPOCHS = 20, 600, 2


def q119_training_assembly(spark, sf_dir):
    """End-to-end training-data assembly funnel (functions/
    pipeline.py:assemble_training_data, r8): weighted sampling (q116)
    → budget trim (q105) → chunking (q71) → sequence packing (q73) →
    epoch addressing (q113), composed into ONE Catalyst plan with
    per-(source, stage) unit/token attribution — the q85 pattern for
    the sampling/packing half of the pipeline. Every stage reuses its
    individually-oracled operator and configuration family; the
    oracle replays the whole composition."""
    from .functions import pipeline as PL

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return PL.assemble_training_data(
        docs, "text", "doc_id", "source", k_per_source=ASM_K,
        budget_tokens=ASM_BUDGET, chunk_tokens=32, overlap=8,
        capacity=PACK_CAPACITY, num_shards=PACK_SHARDS,
        epochs=ASM_EPOCHS,
    )


def _sql_training_assembly() -> str:
    """DuckDB replay of the whole assembly: the q105 quality/token
    CTEs → the q116 es_key sample → the q105 trim window → the q71
    chunk chain → the q73 packing window → the epoch cross join, each
    stage aggregated to (source, n_units, n_tokens) and unioned."""
    es_key = sql_rnd(
        "pow((((((doc_id % 1000003) * 2654435761) % 1000003"
        " + 1000003) % 1000003) + 1.0) / 1000004.0,"
        " 1.0 / greatest(quality, 0.000000001))", 8)
    return rf"""
WITH f AS (
  SELECT doc_id, source, text,
         length(text)::DOUBLE AS n_chars,
         len(regexp_extract_all(text, '\S+'))::DOUBLE AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS n_punct,
         len(regexp_extract_all(lower(text), '{_EN}'))::DOUBLE AS n_stop
  FROM documents),
q AS (
  SELECT doc_id, source, text, n_words::BIGINT AS n_tokens,
         {_SQL_QUALITY} AS quality
  FROM f),
samp AS (
  SELECT doc_id, source, text, n_tokens, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY {es_key} DESC, doc_id ASC) AS rk
  FROM q QUALIFY rk <= {ASM_K}),
trim AS (
  SELECT doc_id, source, text, n_tokens, quality,
         sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY quality DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                            ) AS cum
  FROM samp),
kept AS (
  SELECT doc_id, source, text, n_tokens FROM trim
  WHERE cum <= {ASM_BUDGET}),
toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS l
  FROM kept),
meta AS (
  SELECT doc_id, source, l,
         greatest(1, CAST(ceil((len(l) - 8)::DOUBLE / 24) AS INT)) AS n_chunks
  FROM toks),
ch AS (
  SELECT doc_id, source, l, unnest(range(0, n_chunks)) AS chunk_id
  FROM meta),
chunks AS (
  SELECT doc_id, source, chunk_id::BIGINT AS chunk_id,
         len(l[chunk_id*24 + 1 : chunk_id*24 + 32])::BIGINT AS n_ct,
         (((doc_id % 1000003) * 2654435761) % {PACK_SHARDS}
          + {PACK_SHARDS}) % {PACK_SHARDS} AS shard
  FROM ch),
packed AS (
  SELECT doc_id, source, shard, n_ct,
         sum(n_ct) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id
                         ROWS UNBOUNDED PRECEDING) - n_ct AS cum0
  FROM chunks),
addr AS (
  SELECT doc_id, source, n_tokens, unnest(range(0, {ASM_EPOCHS})) AS epoch
  FROM kept)
SELECT source, 0::BIGINT AS stage_idx, 'corpus' AS stage,
       count(*)::BIGINT AS n_units, sum(n_tokens)::BIGINT AS n_tokens
FROM q GROUP BY source
UNION ALL
SELECT source, 1, 'sampled', count(*)::BIGINT, sum(n_tokens)::BIGINT
FROM samp GROUP BY source
UNION ALL
SELECT source, 2, 'trimmed', count(*)::BIGINT, sum(n_tokens)::BIGINT
FROM kept GROUP BY source
UNION ALL
SELECT source, 3, 'chunked', count(*)::BIGINT, sum(n_ct)::BIGINT
FROM chunks GROUP BY source
UNION ALL
SELECT source, 4, 'packed',
       count(DISTINCT (shard, CAST(floor(cum0 / {PACK_CAPACITY}) AS BIGINT)))::BIGINT,
       sum(n_ct)::BIGINT
FROM packed GROUP BY source
UNION ALL
SELECT source, 5, 'shuffled', count(*)::BIGINT, sum(n_tokens)::BIGINT
FROM addr GROUP BY source
"""


SQL_Q119 = _sql_training_assembly()


DOREMI_ITERS, DOREMI_ETA, DOREMI_SMOOTH = 5, 1.0, 0.1


def q123_doremi_weights(spark, sf_dir):
    """DoReMi-style mixture reweighting (functions/text.py:
    doremi_weights, r9; Xie et al. 2023, arXiv:2305.10429): Group-DRO
    multiplicative weights over per-source excess loss — the
    corpus-trained unigram LM (q84) as the reference model, the
    Stupid-Backoff bigram LM (q95) as the proxy — emitting the full
    weight trajectory for 5 update steps. The iterative complement of
    the static q64/q93 mixtures; the final-step slice feeds the q119
    funnel's optional source_weights stage. Fully value-hash oracled
    by unrolling the update chain into CTEs (the q104 pattern)."""
    docs = _t(spark, sf_dir, "documents")
    ref = _unigram_lm_shared(spark, sf_dir)
    prox = _bigram_lm_shared(spark, sf_dir)
    return TX.doremi_weights(docs, "doc_id", "source", ref, prox,
                             iters=DOREMI_ITERS, eta=DOREMI_ETA,
                             smooth=DOREMI_SMOOTH)


def _sql_doremi() -> str:
    """The q123 oracle: per-source excess loss from the q84/q95 score
    chains, then the multiplicative-weights recursion unrolled one
    (u, z, w) CTE triple per step — every intermediate rides the
    8-digit rnd ladder exactly like the Spark/driver chain, and the
    smoothing constants are repr()'d from the SAME Python floats the
    operator uses, so the two engines cannot disagree about
    ``1 − smooth``."""
    keep = 1.0 - DOREMI_SMOOTH
    parts = [f"""ref AS ({SQL_Q84}),
prox AS ({SQL_Q95}),
ex AS (
  SELECT d.source, greatest(0.0, r.avg_logp - p.avg_logp) AS exl
  FROM documents d
  JOIN ref r USING (doc_id) JOIN prox p USING (doc_id)),
per AS (
  SELECT source, {sql_rnd('avg(exl)', 6)} AS excess_loss
  FROM ex GROUP BY source),
sc AS (SELECT count(*)::DOUBLE AS s FROM per),
m AS (
  SELECT source, excess_loss,
         {sql_rnd(f'exp({DOREMI_ETA!r} * excess_loss)', 8)} AS m
  FROM per),
w0 AS (SELECT source, excess_loss, m, {sql_rnd('1.0 / sc.s', 8)} AS w
       FROM m, sc)"""]
    for t in range(1, DOREMI_ITERS + 1):
        parts.append(f"""u{t} AS (
  SELECT source, excess_loss, m, {sql_rnd('w * m', 8)} AS u
  FROM w{t - 1})""")
        parts.append(f"""z{t} AS (SELECT {sql_rnd('sum(u)', 8)} AS z FROM u{t})""")
        alpha = sql_rnd("u / z.z", 8)
        parts.append(f"""w{t} AS (
  SELECT source, excess_loss, m,
         {sql_rnd(f'{keep!r} * ({alpha}) + {DOREMI_SMOOTH!r} / sc.s', 8)} AS w
  FROM u{t}, z{t} z, sc)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT source, {t}::BIGINT AS step, w AS weight, excess_loss FROM w{t}"
        for t in range(DOREMI_ITERS + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + unions


SQL_Q123 = _sql_doremi()


# ---- r9: BM25 retrieval, Zipf corpus diagnostics, Kneser-Ney LM ----

BM25_TOPK = 5
QUERY_PREFIX_TOKENS = 8
ZIPF_TOP_RANKS = 500
KN_DISCOUNT = 0.75


# Result frames of the eval-split retrieval family, memoized per
# (session, sf_dir) like _minhash_pairs_shared: q150 re-reads q124+q131
# and q180 re-reads q124+q177, so without the memo each audit re-pays
# its parents' full index build. Bounded: |queries|*k rows per entry.
@session_memo("_memo_postings")
def _postings_shared(spark, sf_dir: str) -> DataFrame:
    """The session-lived inverted-index base table (w, doc, tf) over
    the eval-split corpus side — built+cached ONCE and handed to every
    ranker via ``postings=`` (r12: the three retrieval memos plus
    q134/q154/q188 each re-ran the tokenize-explode-agg chain, ~6
    corpus scans per bench rep for one identical frame)."""
    from .functions import retrieval as RV

    corpus, _ = _eval_split_queries(spark, sf_dir)
    # repartition by the scoring chain's dominant key before caching:
    # AQE coalesces the build's (w, doc) agg to ~1 partition at bench
    # sf, and a 1-partition cache serializes every consumer's first
    # stage; "w" partitioning also lines the cache up with the
    # per-term joins/aggs downstream (partition count follows
    # spark.sql.shuffle.partitions — scale-adaptive, not a constant)
    return (RV.corpus_postings(corpus, "text", "doc_id")
            .repartition("w").cache())


def _eval_split_queries(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qs = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ",
            F.slice(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                1, QUERY_PREFIX_TOKENS,
            ),
        ).alias("query"),
    )
    return docs.where(F.col("doc_id") % 50 != 0), qs


@session_memo(_memo_bm25_exact="bm25", _memo_bm25_champs="champs",
              _memo_ql_topk="ql")
def _retrieval_shared(spark, sf_dir: str, which: str) -> DataFrame:
    from .functions import retrieval as RV

    corpus, qs = _eval_split_queries(spark, sf_dir)
    pt = _postings_shared(spark, sf_dir)
    if which == "bm25":
        df = RV.bm25_topk(corpus, qs, "text", "doc_id", k=BM25_TOPK,
                          postings=pt)
    elif which == "champs":
        df = RV.bm25_topk_champions(corpus, qs, "text", "doc_id",
                                    k=BM25_TOPK,
                                    champions=BM25_CHAMPIONS,
                                    postings=pt)
    else:
        df = RV.ql_topk(corpus, qs, "text", "doc_id", k=BM25_TOPK,
                        postings=pt)
    return df.cache()


def q124_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval (functions/retrieval.py:bm25_topk, r9):
    eval docs (doc_id % 50 == 0, the q62 convention) pose their first
    8 tokens as queries against the remaining corpus — the "what
    WOULD a search engine return for this benchmark prompt?" audit
    that complements q108's embedding-space decontamination with the
    lexical view. Lucene-variant idf, tf saturation, per-term
    contributions on the 8-digit rnd ladder, rank ties broken by doc
    id; the full (query, rank, doc, score, hits) table is value-hash
    oracled."""
    return _retrieval_shared(spark, sf_dir, "bm25")


def _sql_bm25(champions: int | None = None, k: int | None = None,
              qmax: int | None = None) -> str:
    from .functions.retrieval import BM25_B, BM25_K1

    if k is None:
        k = BM25_TOPK
    qcap = f" AND doc_id < {qmax}" if qmax is not None else ""

    idf = (
        f"ln(1.0 + (n.n_docs - d.df + 0.5) / (d.df + 0.5))"
    )
    sat = (
        f"(p.tf * {BM25_K1 + 1.0!r}) / (p.tf + {BM25_K1!r} * "
        f"({1.0 - BM25_B!r} + {BM25_B!r} * l.dl / n.avgdl))"
    )
    if champions is None:
        champ_cte = ""
        score_src = "postings"
    else:
        champ_cte = f"""
champs AS (
  SELECT w, doc, tf FROM (
    SELECT w, doc, tf,
           row_number() OVER (PARTITION BY w ORDER BY tf DESC, doc ASC)
             AS cr
    FROM postings) WHERE cr <= {champions}),"""
        score_src = "champs"
    return f"""
WITH docs0 AS (SELECT doc_id, text FROM documents),
qs AS (
  SELECT doc_id AS qid,
         (string_split_regex(lower(trim(text)), '\\s+'))[1:{QUERY_PREFIX_TOKENS}] AS qw
  FROM docs0 WHERE doc_id % 50 = 0{qcap}),
qterms AS (SELECT DISTINCT qid, unnest(qw) AS w FROM qs),
words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM docs0 WHERE doc_id % 50 != 0),
tok AS (SELECT doc, unnest(w) AS w FROM words),
postings AS (SELECT w, doc, count(*)::DOUBLE AS tf FROM tok GROUP BY w, doc),{champ_cte}
doclen AS (SELECT doc, count(*)::DOUBLE AS dl FROM tok GROUP BY doc),
navg AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM doclen),
dft AS (SELECT w, count(*)::DOUBLE AS df FROM postings GROUP BY w),
scored AS (
  SELECT q.qid, p.doc,
         {sql_rnd(f"({idf}) * {sat}", 8)} AS contrib
  FROM {score_src} p
  JOIN qterms q USING (w)
  JOIN dft d USING (w)
  JOIN doclen l ON l.doc = p.doc, navg n),
agg AS (
  SELECT qid, doc, {sql_rnd('sum(contrib)', 4)} AS score,
         count(*)::BIGINT AS n_terms_hit
  FROM scored GROUP BY qid, doc),
ranked AS (
  SELECT qid, doc, score, n_terms_hit,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc ASC)
           AS rnk
  FROM agg)
SELECT qid AS query_id, rnk::BIGINT AS "rank", doc AS doc_id, score,
       n_terms_hit
FROM ranked WHERE rnk <= {k}
"""


SQL_Q124 = _sql_bm25()

BM25_CHAMPIONS = 64


def q131_bm25_champions(spark, sf_dir):
    """Champion-list BM25 (functions/retrieval.py:bm25_topk_champions,
    r9; IIR §7.1.3) — q124's scale path: per term only the 64
    highest-impact postings (tf DESC, doc ASC) are scored, bounding
    per-query work at |query terms|·64 rows regardless of how
    corpus-hot a term is (exact BM25's dense blow-up on hot terms is
    the retrieval twin of the uncapped LSH band — measured 17× at 10×
    on the degenerate-vocabulary synthetic corpus, collapsed to
    linear here). The approximation is DEFINED, not fuzzy: the gate
    value-hashes the champion result itself, and the pytest pins the
    sharp contract (df ≤ P query terms → EXACTLY the exact result)
    plus a recall floor in the hot-term regime."""
    return _retrieval_shared(spark, sf_dir, "champs")


SQL_Q131 = _sql_bm25(champions=BM25_CHAMPIONS)


def q150_bm25_ndcg_audit(spark, sf_dir):
    """Champion-list nDCG audit (functions/retrieval.py:ndcg_audit,
    r9): per-query nDCG@5 of q131's champion-list BM25 against q124's
    exact BM25 as graded ground truth — the retrieval twin of q142's
    IVF recall audit, the number a curator reads before switching the
    100 TB pipeline to the bounded-postings path. Rank discounts are
    Python-literal constants in BOTH engines (no cross-engine log
    ulp); both inputs are |queries|·k-row RESULT frames, so cost is
    corpus-size independent. Fully value-hash oracled."""
    from .functions import retrieval as RV

    exact = q124_bm25_topk(spark, sf_dir).select(
        "query_id", "rank", "doc_id")
    approx = q131_bm25_champions(spark, sf_dir).select(
        "query_id", "rank", "doc_id")
    return RV.ndcg_audit(approx, exact, k=BM25_TOPK)


def _sql_ndcg() -> str:
    from .functions.retrieval import ndcg_discounts

    disc = "[" + ", ".join(repr(d) for d in ndcg_discounts(BM25_TOPK)) + "]"
    k = BM25_TOPK
    return f"""
WITH exact AS ({_sql_bm25()}),
approx AS ({_sql_bm25(champions=BM25_CHAMPIONS)}),
gains AS (
  SELECT query_id, doc_id, ({k} - "rank" + 1)::DOUBLE AS gain
  FROM exact),
idcg AS (
  SELECT query_id,
         {sql_rnd(f'''sum({sql_rnd(f'({k} - "rank" + 1)::DOUBLE * ({disc})["rank"]', 8)})''', 6)}
           AS idcg
  FROM exact GROUP BY query_id),
dcg AS (
  SELECT a.query_id,
         {sql_rnd(f'''sum({sql_rnd(f'coalesce(g.gain, 0.0) * ({disc})[a."rank"]', 8)})''', 6)}
           AS dcg,
         sum(CASE WHEN g.gain IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_hits
  FROM approx a LEFT JOIN gains g
    ON a.query_id = g.query_id AND a.doc_id = g.doc_id
  GROUP BY a.query_id)
SELECT query_id, n_hits, dcg, idcg,
       {sql_rnd('CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END', 6)}
         AS ndcg
FROM dcg JOIN idcg USING (query_id)
"""


SQL_Q150 = _sql_ndcg()

RM3_TERMS = 5


def q154_rm3_expansion(spark, sf_dir):
    """RM3 pseudo-relevance-feedback expansion (functions/
    retrieval.py:rm3_expansion, r9; Lavrenko & Croft 2001, RM3
    interpolation of Abdul-Jaleel et al. 2004): q124's top-5 docs
    vote for their terms with P(w|d)·score-share weights, top-5
    non-query terms come back per query — the recall lever of sparse
    retrieval and the "what ELSE does the corpus call this benchmark
    topic?" probe that widens q62's decontamination sweep beyond
    literal overlap. Feedback frame is |queries|·k rows; the corpus
    is touched exactly as often as plain BM25. Fully value-hash
    oracled."""
    from .functions import retrieval as RV

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qs = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ",
            F.slice(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                1, QUERY_PREFIX_TOKENS,
            ),
        ).alias("query"),
    )
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return RV.rm3_expansion(corpus, qs, "text", "doc_id",
                            k=BM25_TOPK, m=RM3_TERMS,
                            postings=_postings_shared(spark, sf_dir))


SQL_Q154 = f"""
WITH exact AS ({_sql_bm25()}),
qs2 AS (
  SELECT doc_id AS qid,
         (string_split_regex(lower(trim(text)), '\\s+'))[1:{QUERY_PREFIX_TOKENS}] AS qw
  FROM documents WHERE doc_id % 50 = 0),
qt2 AS (SELECT DISTINCT qid, unnest(qw) AS w FROM qs2),
tok2 AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents WHERE doc_id % 50 != 0),
post2 AS (SELECT w, doc, count(*)::DOUBLE AS tf FROM tok2 GROUP BY w, doc),
dl2 AS (SELECT doc, count(*)::DOUBLE AS dl FROM tok2 GROUP BY doc),
fb AS (
  SELECT query_id, doc_id AS doc,
         {sql_rnd('score / sum(score) OVER (PARTITION BY query_id)', 8)}
           AS wd
  FROM exact),
pl AS (
  SELECT p.doc, p.w, {sql_rnd('p.tf / l.dl', 8)} AS pwd
  FROM post2 p JOIN dl2 l USING (doc)),
contrib AS (
  SELECT f.query_id, p.w, {sql_rnd('f.wd * p.pwd', 8)} AS c
  FROM pl p JOIN fb f ON p.doc = f.doc),
rm AS (
  SELECT query_id, w, {sql_rnd('sum(c)', 6)} AS rm_weight
  FROM contrib GROUP BY query_id, w),
cand AS (
  SELECT r.query_id, r.w, r.rm_weight
  FROM rm r LEFT JOIN qt2 q ON q.qid = r.query_id AND q.w = r.w
  WHERE q.w IS NULL)
SELECT query_id, rn::BIGINT AS "rank", w AS term, rm_weight FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rm_weight DESC, w ASC) AS rn
  FROM cand)
WHERE rn <= {RM3_TERMS}
"""


def q125_zipf_stats(spark, sf_dir):
    """One-row Zipf corpus diagnostics (functions/text.py:zipf_stats,
    r9): vocabulary size, token total, head share, and the log-log
    OLS slope/intercept over the top-500 frequency ranks — the
    after-every-curation-stage health check (CCNet, Wenzek et al.
    2020 report this curve per shard). Ranks tie-break by token so
    the cut is engine-stable; the regression moments ride the 8-digit
    rnd ladder."""
    docs = _t(spark, sf_dir, "documents")
    return TX.zipf_stats(docs, "text", "doc_id", top_ranks=ZIPF_TOP_RANKS)


def _sql_zipf() -> str:
    slope = "(f.sxy - f.sx * f.sy / f.m) / (f.sxx - f.sx * f.sx / f.m)"
    return f"""
WITH words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
tok AS (SELECT doc, unnest(w) AS w FROM words),
cnts AS (SELECT w, count(*)::DOUBLE AS c FROM tok GROUP BY w),
totals AS (
  SELECT count(*)::BIGINT AS vocab_size, sum(c) AS nt, max(c) AS top1
  FROM cnts),
head AS (
  SELECT {sql_rnd('ln(r)', 8)} AS x, {sql_rnd('ln(c)', 8)} AS y
  FROM (
    SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r
    FROM cnts ORDER BY c DESC, w ASC LIMIT {ZIPF_TOP_RANKS}) t),
fit AS (
  SELECT count(*)::DOUBLE AS m,
         {sql_rnd('sum(x)', 8)} AS sx, {sql_rnd('sum(y)', 8)} AS sy,
         {sql_rnd('sum(x * x)', 8)} AS sxx,
         {sql_rnd('sum(x * y)', 8)} AS sxy
  FROM head)
SELECT t.vocab_size, t.nt::BIGINT AS n_tokens,
       {sql_rnd('t.top1 / t.nt', 4)} AS top1_share,
       {sql_rnd(slope, 4)} AS zipf_slope,
       {sql_rnd(f'f.sy / f.m - ({slope}) * f.sx / f.m', 4)} AS zipf_intercept
FROM totals t, fit f
"""


SQL_Q125 = _sql_zipf()


def q126_kn_bigram_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (functions/text.py:
    kn_bigram_logprob, r9; Kneser & Ney 1995, Chen & Goodman 1999) —
    the strongest count-based smoothing, completing the LM-quality
    ladder after q84's unigram MLE and q95's Stupid Backoff: absolute
    discounting plus the CONTINUATION-probability backoff that
    downweights frequent-but-context-bound words. Per-doc mean
    log-prob + perplexity, the q84/q95 output contract, fully
    value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    return TX.kn_bigram_logprob(docs, "text", "doc_id",
                                discount=KN_DISCOUNT)


def _sql_kn() -> str:
    d = repr(KN_DISCOUNT)
    case = (
        "CASE WHEN s.prev IS NULL THEN ln(u.cw / tot.n) "
        f"ELSE ln(greatest(coalesce(b.cb, 0.0) - {d}, 0.0) / c.cv "
        f"+ {d} * c.n1p_fwd / c.cv * (k.n1p_bwd / bt.bt)) END"
    )
    return f"""
WITH words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
p0 AS (
  SELECT doc, w, unnest(range(1, len(w) + 1)) AS pos FROM words),
tok AS (SELECT doc, pos, w[pos] AS w FROM p0),
stream AS (
  SELECT doc, pos, w,
         lag(w) OVER (PARTITION BY doc ORDER BY pos) AS prev
  FROM tok),
uni AS (SELECT w, count(*)::DOUBLE AS cw FROM tok GROUP BY w),
tot AS (SELECT sum(cw) AS n FROM uni),
bi AS (
  SELECT prev, w, count(*)::DOUBLE AS cb FROM stream
  WHERE prev IS NOT NULL GROUP BY prev, w),
ctx AS (
  SELECT prev, sum(cb) AS cv, count(*)::DOUBLE AS n1p_fwd
  FROM bi GROUP BY prev),
cont AS (SELECT w, count(*)::DOUBLE AS n1p_bwd FROM bi GROUP BY w),
btypes AS (SELECT count(*)::DOUBLE AS bt FROM bi),
scored AS (
  SELECT s.doc, {sql_rnd(case, 8)} AS lp
  FROM stream s
  LEFT JOIN bi b ON b.prev = s.prev AND b.w = s.w
  LEFT JOIN ctx c ON c.prev = s.prev
  LEFT JOIN cont k ON k.w = s.w
  JOIN uni u ON u.w = s.w, tot, btypes bt),
agg AS (
  SELECT doc, count(*)::BIGINT AS n_tokens,
         {sql_rnd('avg(lp)', 4)} AS avg_logp
  FROM scored GROUP BY doc)
SELECT doc AS doc_id, n_tokens, avg_logp,
       {sql_rnd('exp(-avg_logp)', 4)} AS ppl
FROM agg
"""


SQL_Q126 = _sql_kn()


EWMA_ALPHA, EWMA_WINDOW = 0.3, 16


def q127_ewma_forecast(spark, sf_dir):
    """Truncated-EWMA smoothing + one-step-ahead forecast residuals
    per user series (operators/timeseries.py:ewma_smooth, r9) — the
    EWMA control chart ("is THIS sample off its recent trend?")
    complementing q115's hour-of-week seasonal baseline. The weight
    ladder rides as plan literals from the same python floats the
    oracle repr()'s, so both engines evaluate an identical expression
    tree; fully value-hash oracled including the series-head NULL
    forecast rows."""
    ev = _t(spark, sf_dir, "events")
    return TS.ewma_smooth(ev, "ts", "value", ["user_id"],
                          order_tiebreak=["event_id"],
                          alpha=EWMA_ALPHA, window=EWMA_WINDOW)


def _sql_ewma() -> str:
    wts = [(1.0 - EWMA_ALPHA) ** j for j in range(EWMA_WINDOW)]
    # one extra lag: the forecast's re-anchored ladder spans the same
    # W samples as the previous row's ewma (forecast_t == ewma_{t-1})
    lag_cols = ",\n         ".join(
        f"lag(value, {j}) OVER w AS l{j}"
        for j in range(1, EWMA_WINDOW + 1)
    )
    lag_chain = [f"l{j}" for j in range(1, EWMA_WINDOW + 1)]
    xs = ["value"] + lag_chain[: EWMA_WINDOW - 1]

    def wsum(terms):
        return " + ".join(
            ["0.0"]
            + [
                f"CASE WHEN {x} IS NOT NULL THEN {wt!r} * {x} ELSE 0.0 END"
                for wt, x in terms
            ]
        )

    def wden(terms):
        return " + ".join(
            ["0.0"]
            + [
                f"CASE WHEN {x} IS NOT NULL THEN {wt!r} ELSE 0.0 END"
                for wt, x in terms
            ]
        )

    full = list(zip(wts, xs))
    # forecast re-anchors the ladder at lag 1 (w0·l1 + w1·l2 + …)
    fore = list(zip(wts, lag_chain))
    return f"""
WITH s AS (
  SELECT user_id, ts, event_id, value,
         {lag_cols}
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
t AS (
  SELECT user_id, ts, event_id, value,
         {wsum(full)} AS num_s,
         {wden(full)} AS den_s,
         {wsum(fore)} AS num_f,
         {wden(fore)} AS den_f
  FROM s)
SELECT user_id, ts, event_id, value,
       {sql_rnd('num_s / den_s', 4)} AS ewma,
       CASE WHEN den_f > 0 THEN {sql_rnd('num_f / den_f', 4)} END AS forecast,
       CASE WHEN den_f > 0 THEN {sql_rnd('value - num_f / den_f', 4)} END
         AS resid
FROM t
"""


SQL_Q127 = _sql_ewma()


def q128_ngram_novelty(spark, sf_dir):
    """Cross-document n-gram novelty (functions/dedup.py:
    ngram_novelty, r9): per-document fraction of distinct 3-gram
    shingles unique to that document — the corpus-diversity signal
    complementing q61's within-document repetition and serving as the
    dedup post-check (novelty should shift UP after near-dup
    removal). Linear in corpus grams (df == 1 needs no pair join);
    fully value-hash oracled on the dedup family's exact shingle
    convention."""
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_novelty(docs, "text", "doc_id")


SQL_Q128 = rf"""
WITH words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc, shingle FROM (
    SELECT doc, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM words WHERE len(w) >= 3
    UNION ALL
    SELECT doc, array_to_string(w, ' ') AS shingle FROM words
    WHERE len(w) < 3)),
dft AS (SELECT shingle, count(*)::BIGINT AS gram_df FROM sh GROUP BY shingle),
per AS (
  SELECT doc, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN gram_df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
  FROM sh JOIN dft USING (shingle) GROUP BY doc)
SELECT doc AS doc_id, n_shingles, n_novel,
       {sql_rnd('n_novel::DOUBLE / n_shingles::DOUBLE', 4)} AS novelty
FROM per
"""

def q133_source_perplexity(spark, sf_dir):
    """Per-source perplexity table (r9; the Paloma reporting shape,
    Magnusson et al. 2023 — perplexity sliced by domain instead of
    one corpus scalar): token-weighted mean of the q84 per-doc
    log-probs per source, with doc/token counts. The "which source
    does my LM find surprising?" page of an eval report; pairs with
    q87's per-doc buckets and q114's distribution divergence. Pure
    composition of the oracled q84 chain + one source rollup."""
    docs = _t(spark, sf_dir, "documents")
    per = _unigram_lm_shared(spark, sf_dir)
    joined = per.join(docs.select("doc_id", "source"), "doc_id")
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        rnd(
            F.sum(F.col("avg_logp") * F.col("n_tokens"))
            / F.sum("n_tokens"),
            4,
        ).alias("avg_logp"),
    )
    return agg.select(
        "source", "n_docs", "n_tokens", "avg_logp",
        rnd(F.exp(-F.col("avg_logp")), 4).alias("ppl"),
    )


SQL_Q133 = f"""
WITH q84 AS ({SQL_Q84}),
j AS (
  SELECT q.doc_id, q.n_tokens, q.avg_logp, d.source
  FROM q84 q JOIN documents d USING (doc_id)),
per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS n_tokens,
         {sql_rnd('sum(avg_logp * n_tokens) / sum(n_tokens)', 4)}
           AS avg_logp
  FROM j GROUP BY source)
SELECT source, n_docs, n_tokens, avg_logp,
       {sql_rnd('exp(-avg_logp)', 4)} AS ppl
FROM per
"""


def q132_source_risk_report(spark, sf_dir):
    """Per-source curation-risk report (r9) — the datasheet page the
    q101 corpus card lacks: exact-duplicate rate (the q30 keep-first
    rule: a doc is a dup if a smaller-id doc has the same md5),
    average cross-document n-gram novelty (q128's signal — low means
    templated mass), and the source's token share of the corpus. The
    one-glance "which source is inflating my corpus with copies?"
    table a release review starts from. Pure composition of oracled
    pieces: one md5 agg, the linear novelty chain, one source-keyed
    rollup + a broadcast total."""
    docs = _t(spark, sf_dir, "documents")
    nov = D.ngram_novelty(docs, "text", "doc_id")
    firsts = docs.select(F.md5("text").alias("h"), "doc_id").groupBy(
        "h"
    ).agg(F.min("doc_id").alias("first_id"))
    flagged = (
        docs.select(
            "doc_id", "source", F.md5("text").alias("h"),
            F.regexp_count("text", F.lit(TX.WS_TOKEN_PATTERN))
            .cast("long").alias("n_words"),
        )
        .join(firsts, "h")
        .withColumn(
            "is_dup",
            (F.col("doc_id") != F.col("first_id")).cast("int"),
        )
    )
    per = (
        flagged.join(nov.select("doc_id", "novelty"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            rnd(F.avg("is_dup"), 4).alias("dup_rate"),
            rnd(F.avg("novelty"), 4).alias("avg_novelty"),
        )
    )
    total = per.agg(F.sum("n_tokens").cast("double").alias("tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_tokens",
        rnd(F.col("n_tokens").cast("double") / F.col("tot"), 4)
        .alias("token_share"),
        "dup_rate", "avg_novelty",
    )


SQL_Q132 = rf"""
WITH nov AS ({SQL_Q128}),
firsts AS (
  SELECT md5(text) AS h, min(doc_id) AS first_id
  FROM documents GROUP BY md5(text)),
flagged AS (
  SELECT d.doc_id, d.source,
         len(regexp_extract_all(d.text, '{TX.WS_TOKEN_PATTERN}'))::BIGINT
           AS n_words,
         CASE WHEN d.doc_id != f.first_id THEN 1 ELSE 0 END AS is_dup
  FROM documents d JOIN firsts f ON md5(d.text) = f.h),
per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(n_words)::BIGINT AS n_tokens,
         {sql_rnd('avg(is_dup)', 4)} AS dup_rate,
         {sql_rnd('avg(novelty)', 4)} AS avg_novelty
  FROM flagged JOIN nov USING (doc_id) GROUP BY source),
tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per)
SELECT source, n_docs, n_tokens,
       {sql_rnd('n_tokens::DOUBLE / t.tot', 4)} AS token_share,
       dup_rate, avg_novelty
FROM per, tot t
"""


QNORM_KEEP_FRAC = 0.3


def q129_quality_quantile_norm(spark, sf_dir):
    """Per-source quantile normalization + gating of quality scores
    (functions/text.py:quantile_normalize, r9): each document's q38
    quality score becomes its percentile WITHIN ITS SOURCE, and each
    source keeps its own top 30 % — the standard fix for cross-source
    classifier-scale mismatch (a global threshold starves low-scoring
    sources; per-source gating preserves the mixture). Peer-based
    percent_rank (ties share a percentile — no row-order dependence),
    keep verdict on the rounded rank; fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    scored = TX.quality_score(docs, "text").select(
        "doc_id", "source", "quality"
    )
    return TX.quantile_normalize(scored, "quality", ["source"],
                                 keep_frac=QNORM_KEEP_FRAC)


def _sql_qnorm() -> str:
    thr = repr(round(1.0 - QNORM_KEEP_FRAC, 8))
    return f"""
WITH q38 AS ({SQL_Q38}),
scored AS (
  SELECT d.doc_id, d.source, q.quality
  FROM documents d JOIN q38 q USING (doc_id)),
ranked AS (
  SELECT doc_id, source, quality,
         {sql_rnd("percent_rank() OVER (PARTITION BY source ORDER BY quality ASC)", 4)}
           AS pct_rank
  FROM scored)
SELECT doc_id, source, quality, pct_rank,
       (pct_rank >= {thr})::INTEGER AS keep
FROM ranked
"""


SQL_Q129 = _sql_qnorm()


CURR_PHASES, CURR_SHARDS = 3, 8


def q167_curriculum_order(spark, sf_dir):
    """Curriculum data ordering (functions/text.py:curriculum_order,
    r9; Bengio et al. 2009): phase by per-source quality percentile —
    cleanest third first — with a deterministic shuffled (shard, pos)
    address within each phase; composes q129's per-source
    percent_rank (the cross-source-scale fix) with q113's portable
    hash addressing (phase mixed in exactly like the epoch). Phase
    boundaries on the ROUNDED percentile; no global sort anywhere.
    Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    return TX.curriculum_order(docs, "text", "doc_id", "source",
                               phases=CURR_PHASES,
                               num_shards=CURR_SHARDS)


def _sql_curriculum() -> str:
    p = CURR_PHASES
    return f"""
WITH q38 AS ({SQL_Q38}),
scored AS (
  SELECT d.doc_id, d.source, q.quality
  FROM documents d JOIN q38 q USING (doc_id)),
ranked AS (
  SELECT doc_id, source,
         {sql_rnd("percent_rank() OVER (PARTITION BY source ORDER BY quality ASC)", 4)}
           AS pct_rank
  FROM scored),
phased AS (
  SELECT doc_id, source, pct_rank,
         least(floor((1.0 - pct_rank) * {p})::BIGINT, {p - 1})
           AS phase
  FROM ranked),
addressed AS (
  SELECT doc_id, source, pct_rank, phase,
         ((((doc_id * 31 + phase * 7919) % 1000003) * 2654435761)
          % {CURR_SHARDS} + {CURR_SHARDS}) % {CURR_SHARDS} AS shard,
         ((((doc_id * 17 + phase * 104729) % 999983) * 2654435761)
          % 1000000007 + 1000000007) % 1000000007 AS okey
  FROM phased)
SELECT doc_id, source, pct_rank, phase, shard::BIGINT AS shard,
       row_number() OVER (PARTITION BY phase, shard
                          ORDER BY okey, doc_id)::BIGINT AS pos
FROM addressed
"""


SQL_Q167 = _sql_curriculum()


def q168_filter_agreement(spark, sf_dir):
    """Cohen's kappa between the two quality filters (functions/
    classify.py:kappa_agreement, r9; Cohen 1960): does the rule-based
    C4/Gopher gate (q70 keep) agree with the learned classifier
    (q104 pred) BEYOND CHANCE? Raw agreement is inflated when both
    filters keep most documents; kappa removes the chance floor —
    the audit run before trusting either filter as the other's
    cheap surrogate. One doc-keyed join of two audited verdict
    chains + a 4-cell contingency agg. Fully value-hash oracled."""
    from .functions import classify as C

    a = q70_quality_filter(spark, sf_dir).select("doc_id", "keep")
    b = q104_quality_classifier(spark, sf_dir).select("doc_id", "pred")
    out = C.kappa_agreement(a, b, "doc_id", "keep", "pred")
    out._cached_inputs = getattr(b, "_cached_inputs", [])
    return out


SQL_Q168 = f"""
WITH a AS ({SQL_Q70}),
b AS ({SQL_Q104}),
j AS (
  SELECT a.keep::BIGINT AS x, b.pred::BIGINT AS y
  FROM a JOIN b USING (doc_id)),
c AS (
  SELECT count(*)::DOUBLE AS n,
         sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)::DOUBLE AS n11,
         sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)::DOUBLE AS n10,
         sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)::DOUBLE AS n01,
         sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)::DOUBLE AS n00
  FROM j),
p AS (
  SELECT n, n11, n10, n01, n00,
         {sql_rnd('(n11 + n00) / n', 8)} AS po,
         {sql_rnd('((n11 + n10) / n) * ((n11 + n01) / n)'
                  ' + ((n01 + n00) / n) * ((n10 + n00) / n)', 8)} AS pe
  FROM c)
SELECT n::BIGINT AS n_docs, n11::BIGINT AS both_keep,
       n00::BIGINT AS both_drop, n10::BIGINT AS only_rules,
       n01::BIGINT AS only_classifier,
       {sql_rnd('po', 6)} AS observed_agreement,
       CASE WHEN pe < 1.0
            THEN {sql_rnd('(po - pe) / (1.0 - pe)', 6)} END AS kappa
FROM p
"""


HG_BUCKETS, HG_ITERS, HG_LR = 8, 4, 0.5


def q130_hashed_gram_classifier(spark, sf_dir):
    """fastText-style hashed bag-of-ngrams classifier (functions/
    classify.py:hashed_gram_features, r9; Joulin et al. 2017):
    unigram+bigram features hashed into 8 portable buckets, trained
    through the SAME oracled logreg chain as q104 — the content-based
    quality filter beside q104's shape-statistics one. The oracle
    unrolls feature hashing AND the full gradient loop; weights
    replay bit-for-bit cross-engine."""
    from .functions import classify as C

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint: logreg_train's count + HG_ITERS gradient scans
    # and the final scoring pass otherwise EACH re-ran the gram
    # explode / hash / doc-agg feature build (6 rebuilds — guide §1.2)
    # AND re-analyzed its full lineage per driver action (the dominant
    # cost at bench scale; the _pca_shared lesson). Bounded: B+3
    # scalars per document, freed by ContextCleaner with the frame.
    feats = C.hashed_gram_features(docs, "text", "doc_id", "source",
                                   QC_POS_SOURCES,
                                   buckets=HG_BUCKETS).localCheckpoint()
    cols = [f"x{j}" for j in range(HG_BUCKETS)]
    w = C.logreg_train(feats, cols, "label", iters=HG_ITERS, lr=HG_LR)
    out = C.logreg_score(feats, cols, w).select(
        "doc_id",
        F.col("label").cast("long").alias("label"),
        "p_good",
        "pred",
    )
    return out


def _sql_hashed_logreg() -> str:
    """q130's oracle: the hashed-gram feature map (portable md5
    fingerprint mod buckets — the dedup family's hash) and the q104
    logreg unroll generalized to B+1 weights."""
    pos = ", ".join(f"'{s}'" for s in QC_POS_SOURCES)
    B = HG_BUCKETS
    xcols = ",\n         ".join(
        f"{sql_rnd(f'sum(CASE WHEN b = {j} THEN 1.0 ELSE 0.0 END) / count(*)', 6)} AS x{j}"
        for j in range(B)
    )
    w0_cols = ", ".join(f"0.0 AS w{j}" for j in range(B + 1))
    parts = [rf"""words AS (
  SELECT doc_id AS doc, source,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
uni AS (SELECT doc, source, unnest(w) AS g FROM words),
big AS (
  SELECT doc, source,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])) AS g
  FROM words WHERE len(w) >= 2),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
bk AS (
  SELECT doc, source,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % {B} AS b
  FROM grams),
feat AS (
  SELECT doc AS doc_id,
         CASE WHEN any_value(source) IN ({pos}) THEN 1.0 ELSE 0.0 END AS y,
         {xcols}
  FROM bk GROUP BY doc),
cnt AS (SELECT count(*)::DOUBLE AS n FROM feat),
w0 AS (SELECT {w0_cols})"""]

    def zexpr() -> str:
        terms = ["w.w0 * 1.0"] + [
            f"w.w{j + 1} * f.x{j}" for j in range(B)
        ]
        return " + ".join(terms)

    for i in range(1, HG_ITERS + 1):
        sig = sql_rnd(
            f"1.0 / (1.0 + exp(-({sql_rnd(zexpr(), 8)})))", 8
        )
        fcols = ", ".join(f"f.x{j}" for j in range(B))
        parts.append(f"""s{i} AS (
  SELECT f.y, {fcols}, {sig} AS sig
  FROM feat f, w{i - 1} w)""")
        gcols = ",\n         ".join(
            [f"{sql_rnd('sum((sig - y) * 1.0) / any_value(c.n)', 6)} AS g0"]
            + [
                f"{sql_rnd(f'sum((sig - y) * x{j}) / any_value(c.n)', 6)} AS g{j + 1}"
                for j in range(B)
            ]
        )
        parts.append(f"""g{i} AS (
  SELECT {gcols}
  FROM s{i}, cnt c)""")
        wcols = ",\n         ".join(
            f"{sql_rnd(f'w.w{j} - {HG_LR} * g.g{j}', 6)} AS w{j}"
            for j in range(B + 1)
        )
        parts.append(f"""w{i} AS (
  SELECT {wcols}
  FROM w{i - 1} w, g{i} g)""")
    final_sig = sql_rnd(
        f"1.0 / (1.0 + exp(-({sql_rnd(zexpr(), 8)})))", 8
    )
    return ("WITH " + ",\n".join(parts) + f"""
SELECT f.doc_id, f.y::BIGINT AS label,
       {sql_rnd(final_sig, 4)} AS p_good,
       (CASE WHEN {sql_rnd(final_sig, 4)} >= 0.5 THEN 1 ELSE 0 END)::INTEGER
         AS pred
FROM feat f, w{HG_ITERS} w""")


SQL_Q130 = _sql_hashed_logreg()


# ---- r9 wave 2: snapshot diff, hybrid retrieval, CMS, boilerplate ----

SNAP_EDIT_MOD = 7  # doc_id % 7 == 3 simulates an edited document


def q135_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (functions/pipeline.py:snapshot_diff, r9):
    added / removed / changed / unchanged per source between two
    deterministic snapshot views of the documents table (old = ids
    with % 10 != 9; new = ids with % 10 != 0, where every id % 7 == 3
    doc carries a simulated revision suffix). Fingerprint-projected
    full-outer join — text never shuffles; fully value-hash oracled."""
    from .functions import pipeline as P

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    old = docs.where(F.col("doc_id") % 10 != 9)
    new = docs.where(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % SNAP_EDIT_MOD == 3,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
    )
    return P.snapshot_diff(old, new, "doc_id", "text")


SQL_Q135 = f"""
WITH o AS (
  SELECT doc_id, source, md5(coalesce(text, '')) AS h,
         length(coalesce(text, ''))::BIGINT AS len
  FROM documents WHERE doc_id % 10 != 9),
n AS (
  SELECT doc_id, source, md5(t) AS h, length(t)::BIGINT AS len
  FROM (
    SELECT doc_id, source,
           CASE WHEN doc_id % {SNAP_EDIT_MOD} = 3
                THEN coalesce(text, '') || ' [rev2]'
                ELSE coalesce(text, '') END AS t
    FROM documents WHERE doc_id % 10 != 0)),
j AS (
  SELECT CASE WHEN o.h IS NULL THEN 'added'
              WHEN n.h IS NULL THEN 'removed'
              WHEN o.h != n.h THEN 'changed'
              ELSE 'unchanged' END AS status,
         coalesce(n.source, o.source) AS source,
         CASE WHEN n.h IS NULL THEN o.len ELSE n.len END AS len
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT status, source, count(*)::BIGINT AS n_docs,
       sum(len)::BIGINT AS n_chars
FROM j GROUP BY status, source
"""


PROTO_DROP_FRAC = 0.2


def q146_proto_prune(spark, sf_dir):
    """D4-style prototypicality pruning (Tirumala et al. 2023 §3:
    after SemDeDup, drop the most PROTOTYPICAL points — those closest
    to their cluster centroid carry the least marginal information;
    keeping only them is how semantic dedup over-prunes diversity):
    the oracled q72 Lloyd assignment already carries each vector's
    rounded cosine to its centroid, so prototypicality is a per-
    cluster percent_rank on that cosine (peer-based — ties share a
    rank, the q129 convention) and the top 20 % per cluster drop.
    Composes the cluster geometry gate into an actual curation
    verdict; one extra cluster-keyed window over the assignment.
    Fully value-hash oracled."""
    assigned = _kmeans_shared(spark, sf_dir)[1]
    w = Window.partitionBy("cluster").orderBy(F.col("cos").asc())
    thr = repr(round(1.0 - PROTO_DROP_FRAC, 8))
    return (
        assigned.withColumn(
            "proto_rank", rnd(F.percent_rank().over(w), 4)
        )
        .select(
            "vec_id", F.col("cluster").cast("long").alias("cluster"),
            "cos", "proto_rank",
            (F.col("proto_rank") < F.lit(float(thr)))
            .cast("integer").alias("keep"),
        )
    )


SQL_Q146 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
cent0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster, e AS c
  FROM v ORDER BY vec_id LIMIT {KMEANS_K}),
{_sql_kmeans_assign('cent0', 'a1')},
{_sql_kmeans_update('a1', 'cent0', 'cent1')},
{_sql_kmeans_assign('cent1', 'a2')},
{_sql_kmeans_update('a2', 'cent1', 'cent2')},
{_sql_kmeans_assign('cent2', 'a3')},
ranked AS (
  SELECT vec_id, cluster, cos,
         {sql_rnd('percent_rank() OVER (PARTITION BY cluster ORDER BY cos ASC)', 4)}
           AS proto_rank
  FROM a3)
SELECT vec_id, cluster::BIGINT AS cluster, cos, proto_rank,
       (proto_rank < {round(1.0 - PROTO_DROP_FRAC, 8)!r})::INTEGER AS keep
FROM ranked
"""


RUN_TAU, RUN_MIN = 80.0, 3


def q144_threshold_runs(spark, sf_dir):
    """Sustained-saturation runs (operators/timeseries.py:
    threshold_runs, r9): maximal runs of ≥ 3 CONSECUTIVE samples
    above 80 per event_type — "pegged for 40 straight minutes", which
    q20's point filter can't distinguish from scattered spikes. The
    gaps-and-islands shape on the (ts, event_id) deterministic order;
    fully value-hash oracled."""
    return TS.threshold_runs(_t(spark, sf_dir, "events"), "ts", "value",
                             ["event_type"], threshold=RUN_TAU,
                             min_run=RUN_MIN, tiebreak="event_id")


SQL_Q144 = f"""
WITH ordered AS (
  SELECT event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events),
isl AS (
  SELECT *, rn - row_number() OVER (PARTITION BY event_type
                                    ORDER BY rn) AS grp
  FROM ordered WHERE value > {RUN_TAU!r})
SELECT event_type, start_ts, end_ts, n_samples, peak_value FROM (
  SELECT event_type, min(ts) AS start_ts, max(ts) AS end_ts,
         count(*)::BIGINT AS n_samples, max(value) AS peak_value
  FROM isl GROUP BY event_type, grp)
WHERE n_samples >= {RUN_MIN}
"""


CUSUM_SLACK, CUSUM_H = 0.5, 4.0


def q145_cusum_alarms(spark, sf_dir):
    """One-sided CUSUM drift alarms (operators/timeseries.py:
    cusum_alarms, r9; Page 1954): cumulative excess over mean+0.5σ
    exceeding 4σ per event_type — catches the small persistent shift
    no per-sample threshold sees. The max(0, S+dev) recursion in its
    closed prefix form (running sum − running min), both windows on
    the rounded ladder so the engines' window-tree float association
    can't diverge (the q24 contract). Fully value-hash oracled."""
    return TS.cusum_alarms(_t(spark, sf_dir, "events"), "ts", "value",
                           ["event_type"], slack_sigmas=CUSUM_SLACK,
                           h_sigmas=CUSUM_H, tiebreak="event_id")


SQL_Q145 = f"""
WITH stats AS (
  SELECT event_type, {sql_rnd('avg(value)', 4)} AS mu,
         {sql_rnd('stddev_samp(value)', 4)} AS sd
  FROM events GROUP BY event_type),
cum AS (
  SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
         s.sd,
         {sql_rnd(
             f"sum({sql_rnd(f'e.value - s.mu - {CUSUM_SLACK!r} * s.sd', 8)})"
             " OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id"
             " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)}
           AS c
  FROM events e JOIN stats s USING (event_type)),
scored AS (
  SELECT *, {sql_rnd(
      'c - least(0.0, min(c) OVER (PARTITION BY event_type'
      ' ORDER BY ts, event_id'
      ' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))', 4)} AS cusum
  FROM cum)
SELECT event_id, ts, user_id, event_type, value, props, cusum
FROM scored WHERE cusum > {sql_rnd(f'{CUSUM_H!r} * sd', 4)}
"""


MMR_K, MMR_LAM = 3, 0.7


def q143_mmr_rerank(spark, sf_dir):
    """MMR diversity re-ranking over the hybrid pool (functions/
    retrieval.py:mmr_rerank, r9; Carbonell & Goldstein 1998): the k=3
    RAG context selection — greedy λ·relevance − (1−λ)·max-sim-to-
    selected over q134's RRF top-10, so the selected passages aren't
    near-copies of the same best hit. Greedy is sequential, but k is
    small and the pool query-bounded: the pool×pool cosine matrix
    precomputes once and the 3 steps unroll as rank windows — no
    driver loop over data; the oracle unrolls the same 3 steps as
    CTEs (the q104/q123 chain pattern). Fully value-hash oracled."""
    from .functions import retrieval as RV

    # the pool is eval-suite-sized (≤ 10·|queries| rows) but its plan
    # is the whole hybrid chain — since r12 it reads the session-
    # memoized q134 pool (_rrf_pool_shared) instead of re-running the
    # champion-BM25 + brute-cosine + fusion chain per bench rep
    pool = _rrf_pool_shared(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rrf").alias("rel")
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    out = RV.mmr_rerank(pool, emb, k=MMR_K, lam=MMR_LAM)
    # the operator's own persisted sims matrix is released after the
    # consuming action; the pool memo is deliberately session-lived
    return out


def _sql_mmr() -> str:
    lam, om = repr(float(MMR_LAM)), repr(round(1.0 - MMR_LAM, 8))
    cos_ab = sql_rnd(
        "list_dot_product(a.e, b.e) / "
        "(sqrt(list_sum(list_transform(a.e, x -> x * x))) * "
        "sqrt(list_sum(list_transform(b.e, x -> x * x))))",
        4,
    )

    def pen_step(sel: str, out: str) -> str:
        return f"""{out}_pen AS (
  SELECT s.query_id, s.da AS doc_id, max(s.sim) AS pen
  FROM sims s JOIN {sel} t
    ON s.query_id = t.query_id AND s.db = t.doc_id
  GROUP BY s.query_id, s.da),
{out}_sc AS (
  SELECT p.query_id, p.doc_id,
         {sql_rnd(f'{lam} * p.rel - {om} * coalesce(x.pen, 0.0)', 8)} AS mmr
  FROM pool p
  LEFT JOIN {out}_pen x
    ON p.query_id = x.query_id AND p.doc_id = x.doc_id
  WHERE NOT EXISTS (
    SELECT 1 FROM {sel} t
    WHERE t.query_id = p.query_id AND t.doc_id = p.doc_id)),
{out} AS (
  SELECT query_id, doc_id, mmr FROM (
    SELECT query_id, doc_id, mmr,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY mmr DESC, doc_id ASC) AS rk
    FROM {out}_sc) WHERE rk = 1)"""

    return f"""
WITH pool0 AS ({SQL_Q134}),
pool AS (SELECT query_id, doc_id, rrf AS rel FROM pool0),
ve AS (
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
pv AS (
  SELECT p.query_id, p.doc_id, p.rel, v.e
  FROM pool p JOIN ve v USING (doc_id)),
sims AS (
  SELECT a.query_id, a.doc_id AS da, b.doc_id AS db, {cos_ab} AS sim
  FROM pv a JOIN pv b
    ON a.query_id = b.query_id AND a.doc_id != b.doc_id),
s1 AS (
  SELECT query_id, doc_id, mmr FROM (
    SELECT query_id, doc_id,
           {sql_rnd(f'{lam} * rel', 8)} AS mmr,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {sql_rnd(f'{lam} * rel', 8)} DESC,
                                       doc_id ASC) AS rk
    FROM pool) WHERE rk = 1),
{pen_step('s1', 's2')},
sel12 AS (SELECT query_id, doc_id FROM s1
          UNION ALL SELECT query_id, doc_id FROM s2),
{pen_step('sel12', 's3')}
SELECT query_id, 1::BIGINT AS step, doc_id, mmr FROM s1
UNION ALL SELECT query_id, 2::BIGINT AS step, doc_id, mmr FROM s2
UNION ALL SELECT query_id, 3::BIGINT AS step, doc_id, mmr FROM s3
"""


IVF_NPROBE = 2


# The sub-exhaustive IVF result (q142 + q194 run the IDENTICAL
# ann_topk_ivf_portable call) and the brute-force truth ranking
# (q35 + q142 + q194) are each computed once per session — the two
# recall/nDCG audits otherwise re-ran both ranking pipelines in
# full (guide §1.2). Bounded: |queries| × k rows each. Session-lived
# like _kmeans_shared; bench times the builds as their own
# ``_memo_ivf_topk`` / ``_memo_ann_brute`` lines.
@session_memo("_memo_ivf_topk")
def _ivf_topk_shared(spark, sf_dir) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_topk_ivf_portable(
        emb, "vec_id", "embedding", ANN_NUM_QUERIES, k=ANN_K,
        k_lists=KMEANS_K, iters=KMEANS_ITERS, nprobe=IVF_NPROBE,
        centroids=_kmeans_shared(spark, sf_dir)[0],
    ).cache()


@session_memo("_memo_ann_brute")
def _ann_brute_shared(spark, sf_dir) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= ANN_NUM_QUERIES)
    return S.ann_topk_bruteforce(
        emb, queries, "vec_id", "embedding", ANN_K).cache()


def q142_ivf_recall(spark, sf_dir):
    """Sub-exhaustive IVF recall audit (functions/similarity.py:
    ann_topk_ivf_portable, r9): the production ANN regime — partial
    probing, nprobe=2 of 8 lists — finally under the full value-hash
    gate (q41/q100 gate the exhaustive configurations that reduce to
    exact ranking; the sub-exhaustive path was pytest-only until
    now). Every step rides the rounded-cosine ladder (the q72 Lloyd
    chain), so the oracle replays the identical probed candidate set
    and the per-query recall@k against the q35 brute-force truth is
    deterministic cross-engine — recall < 1 here is the designed
    trade being MEASURED, not a failure."""
    ivf = _ivf_topk_shared(spark, sf_dir)
    brute = _ann_brute_shared(spark, sf_dir)
    hits = ivf.select("query_id", "neighbor_id").withColumn(
        "hit", F.lit(1)
    )
    return (
        brute.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
            rnd(
                F.coalesce(F.sum("hit"), F.lit(0)) / F.lit(float(ANN_K)), 4
            ).alias("recall"),
        )
    )


def _sql_ivf_sub() -> str:
    """The q72 Lloyd chain + sub-exhaustive probe/rank CTEs shared by
    SQL_Q142."""
    cos_qc = sql_rnd(
        "list_dot_product(q.e, c.c) / "
        "(sqrt(list_sum(list_transform(q.e, x -> x * x))) * "
        "sqrt(list_sum(list_transform(c.c, x -> x * x))))",
        4,
    )
    cos_ra = sql_rnd(
        "list_dot_product(r.qe, a.e) / "
        "(sqrt(list_sum(list_transform(r.qe, x -> x * x))) * "
        "sqrt(list_sum(list_transform(a.e, x -> x * x))))",
        4,
    )
    return f"""cent0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster, e AS c
  FROM v ORDER BY vec_id LIMIT {KMEANS_K}),
{_sql_kmeans_assign('cent0', 'a1')},
{_sql_kmeans_update('a1', 'cent0', 'cent1')},
{_sql_kmeans_assign('cent1', 'a2')},
{_sql_kmeans_update('a2', 'cent1', 'cent2')},
{_sql_kmeans_assign('cent2', 'a3')},
q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id <= {ANN_NUM_QUERIES}),
route AS (
  SELECT query_id, qe, cluster FROM (
    SELECT q.query_id, q.e AS qe, c.cluster,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_qc} DESC, c.cluster ASC) AS rk
    FROM q CROSS JOIN cent2 c) WHERE rk <= {IVF_NPROBE}),
cand AS (
  SELECT r.query_id, a.vec_id AS neighbor_id, {cos_ra} AS cosine
  FROM route r JOIN a3 a USING (cluster)
  WHERE a.vec_id != r.query_id),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM cand) WHERE rk <= {ANN_K})"""


SQL_Q142 = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
{_sql_ivf_sub()},
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
bscored AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_rnd('list_dot_product(qq.e, c.e) / (qq.nrm * c.nrm)', 4)} AS cosine
  FROM n qq JOIN n c ON c.vec_id != qq.vec_id
  WHERE qq.vec_id <= {ANN_NUM_QUERIES}),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bscored) WHERE rk <= {ANN_K})
SELECT b.query_id, count(i.neighbor_id)::BIGINT AS n_hit,
       {sql_rnd(f'count(i.neighbor_id) / {ANN_K}.0', 4)} AS recall
FROM brute b LEFT JOIN ivf i
  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
GROUP BY b.query_id
"""


MAD_TAU = 3.5


def q140_mad_outliers(spark, sf_dir):
    """Robust outliers by modified z-score (operators/stats.py:
    mad_outliers, r9; Iglewicz & Hoaglin 1993): |0.6745·(v − median)/
    MAD| > 3.5 per event_type — q20's z-score with the outlier-dragged
    mean/stddev swapped for the exact distributed median/MAD (one
    100× spike inflates σ enough to hide the 10× ones; the median
    doesn't move). Fully value-hash oracled against quantile_cont."""
    ev = _t(spark, sf_dir, "events")
    out = ST.mad_outliers(ev, "value", ["event_type"], threshold=MAD_TAU)
    res = out.select(
        "event_id", "event_type", "value",
        F.col("_med").alias("med"), F.col("_mad").alias("mad"),
        "robust_z",
    )
    res._cached_inputs = getattr(out, "_cached_inputs", [])
    return res


SQL_Q140 = f"""
WITH med AS (
  SELECT event_type, {sql_rnd('quantile_cont(value, 0.5)', 4)} AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, {sql_rnd('quantile_cont(adev, 0.5)', 4)} AS mad
  FROM dev GROUP BY event_type),
scored AS (
  SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
         {sql_rnd('0.6745 * (d.value - d.med) / m.mad', 4)} AS robust_z
  FROM dev d JOIN mad m USING (event_type) WHERE m.mad > 0)
SELECT event_id, event_type, value, med, mad, robust_z
FROM scored WHERE abs(robust_z) > {MAD_TAU}
"""


def q157_anomaly_ensemble(spark, sf_dir):
    """Anomaly-detector ensemble verdict (r9): an event is flagged
    only when ≥ 2 of 3 independent detectors agree — q20's z-score
    (mean/σ), q140's MAD robust z (median/MAD), q145's CUSUM drift
    alarm — the standard alert-fatigue reducer: a detector family's
    false positives are mostly disjoint, real anomalies co-fire. Pure
    composition of three individually-oracled chains (each already
    emits only its flagged rows) + one event-keyed vote agg + one
    join back for context; votes ride as int64 flag columns. Fully
    value-hash oracled by nesting the three SQL chains."""
    z = q20_outliers(spark, sf_dir).select(
        "event_id", F.lit(1).alias("_vz"), F.lit(0).alias("_vm"),
        F.lit(0).alias("_vc"))
    m = q140_mad_outliers(spark, sf_dir)
    mm = m.select(
        "event_id", F.lit(0).alias("_vz"), F.lit(1).alias("_vm"),
        F.lit(0).alias("_vc"))
    c = q145_cusum_alarms(spark, sf_dir).select(
        "event_id", F.lit(0).alias("_vz"), F.lit(0).alias("_vm"),
        F.lit(1).alias("_vc"))
    votes = (
        z.unionByName(mm).unionByName(c)
        .groupBy("event_id")
        .agg(F.max("_vz").alias("vote_z"),
             F.max("_vm").alias("vote_mad"),
             F.max("_vc").alias("vote_cusum"))
        .withColumn(
            "n_votes",
            (F.col("vote_z") + F.col("vote_mad")
             + F.col("vote_cusum")).cast("long"),
        )
        .where(F.col("n_votes") >= 2)
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    out = ev.join(votes, "event_id").select(
        "event_id", "event_type", "value",
        F.col("vote_z").cast("long").alias("vote_z"),
        F.col("vote_mad").cast("long").alias("vote_mad"),
        F.col("vote_cusum").cast("long").alias("vote_cusum"),
        "n_votes",
    )
    out._cached_inputs = getattr(m, "_cached_inputs", [])
    return out


def _sql_anomaly_ensemble() -> str:
    return f"""
WITH za AS ({SQL_Q20}),
ma AS ({SQL_Q140}),
ca AS ({SQL_Q145}),
votes AS (
  SELECT event_id, max(vz) AS vote_z, max(vm) AS vote_mad,
         max(vc) AS vote_cusum
  FROM (
    SELECT event_id, 1 AS vz, 0 AS vm, 0 AS vc FROM za
    UNION ALL SELECT event_id, 0, 1, 0 FROM ma
    UNION ALL SELECT event_id, 0, 0, 1 FROM ca)
  GROUP BY event_id),
flagged AS (
  SELECT event_id, vote_z::BIGINT AS vote_z, vote_mad::BIGINT AS vote_mad,
         vote_cusum::BIGINT AS vote_cusum,
         (vote_z + vote_mad + vote_cusum)::BIGINT AS n_votes
  FROM votes WHERE vote_z + vote_mad + vote_cusum >= 2)
SELECT e.event_id, e.event_type, e.value,
       f.vote_z, f.vote_mad, f.vote_cusum, f.n_votes
FROM events e JOIN flagged f USING (event_id)
"""


SQL_Q157 = _sql_anomaly_ensemble()


def q141_moments_merge(spark, sf_dir):
    """Incremental corpus statistics (operators/stats.py:
    moments_merge, r9; Chan et al. 1979 parallel variance): the old
    snapshot (doc_id % 10 != 9) and the arriving batch (% 10 == 9)
    each reduce to (n, mean, mean-of-squares) per source — three
    persisted scalars — and merge into exact combined mean/variance
    of per-doc word counts WITHOUT rescanning the old corpus. The
    merge arithmetic runs on the 8-digit-rounded part summaries, so
    both engines derive identical doubles; a source present in only
    one part passes through (both branches live at gate scale only
    if a source is single-sided — the pytest plants that case).
    Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.regexp_count(F.col("text"), F.lit(TX.WS_TOKEN_PATTERN))
        .cast("double").alias("n_words"),
    )
    old = docs.where(F.col("doc_id") % 10 != 9)
    new = docs.where(F.col("doc_id") % 10 == 9)
    return ST.moments_merge(old, new, "n_words", ["source"])


SQL_Q141 = f"""
WITH base AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}'))::DOUBLE AS v
  FROM documents),
a AS (
  SELECT source, count(*)::DOUBLE AS n_a,
         {sql_rnd('avg(v)', 8)} AS m_a, {sql_rnd('avg(v*v)', 8)} AS q_a
  FROM base WHERE doc_id % 10 != 9 GROUP BY source),
b AS (
  SELECT source, count(*)::DOUBLE AS n_b,
         {sql_rnd('avg(v)', 8)} AS m_b, {sql_rnd('avg(v*v)', 8)} AS q_b
  FROM base WHERE doc_id % 10 = 9 GROUP BY source),
j AS (
  SELECT coalesce(a.source, b.source) AS source,
         coalesce(n_a, 0.0) AS n_a, coalesce(m_a, 0.0) AS m_a,
         coalesce(q_a, 0.0) AS q_a, coalesce(n_b, 0.0) AS n_b,
         coalesce(m_b, 0.0) AS m_b, coalesce(q_b, 0.0) AS q_b
  FROM a FULL OUTER JOIN b ON a.source = b.source)
SELECT source, n_a::BIGINT AS n_old, n_b::BIGINT AS n_new,
       (n_a + n_b)::BIGINT AS n_total,
       {sql_rnd('(n_a * m_a + n_b * m_b) / (n_a + n_b)', 4)} AS mean_merged,
       {sql_rnd(
           'CASE WHEN n_a + n_b > 1 THEN '
           '((q_a - m_a*m_a)*n_a + (q_b - m_b*m_b)*n_b '
           ' + (m_b - m_a)*(m_b - m_a)*n_a*n_b/(n_a + n_b)) '
           '/ (n_a + n_b - 1.0) ELSE 0.0 END', 4)} AS var_merged
FROM j
"""


CPPL_WORDS, CPPL_V, CPPL_Q = 16, 20, 0.9


def q139_chunk_ppl_cut(spark, sf_dir):
    """Sub-document perplexity filtering (functions/text.py:
    chunk_ppl_cut, r9; CCNet §4.3 scores paragraphs, not documents):
    16-word chunks scored by the q84 corpus unigram LM; chunks above
    the corpus p90 chunk-perplexity (exact distributed percentile,
    rounded so the boundary is engine-stable) are cut and the doc
    reassembled — the quality twin of q137's boilerplate df rule,
    between q70's whole-doc verdict and nothing. Full clean_text
    value-hash oracled (LM chain + chunk split + quantile_cont
    threshold all nested in the SQL)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.chunk_ppl_cut(docs, "text", "doc_id",
                            chunk_words=CPPL_WORDS, vocab_size=CPPL_V,
                            ppl_quantile=CPPL_Q)


SQL_Q139 = rf"""
WITH words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
tok AS (SELECT unnest(w) AS w FROM words),
cnts AS (SELECT w, count(*)::DOUBLE AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c) AS n FROM cnts),
vocab AS (SELECT w, c FROM cnts ORDER BY c DESC, w ASC LIMIT {CPPL_V}),
unk AS (
  SELECT coalesce(sum(c), 0.0) AS cu FROM cnts
  WHERE w NOT IN (SELECT w FROM vocab)),
p0 AS (
  SELECT doc, w,
         unnest(range(0, greatest(
           CAST(ceil(len(w) / {CPPL_WORDS}.0) AS BIGINT), 1))) AS idx
  FROM words),
chunk AS (
  SELECT doc, idx,
         list_transform(
           range(idx * {CPPL_WORDS} + 1,
                 least((idx + 1) * {CPPL_WORDS}, len(w)) + 1),
           j -> w[j]) AS cw
  FROM p0),
ctok AS (SELECT doc, idx, unnest(cw) AS w FROM chunk),
scored AS (
  SELECT doc, idx,
         {sql_rnd('ln(coalesce(v.c, u.cu) / t.n)', 8)} AS lp
  FROM ctok LEFT JOIN vocab v USING (w), tot t, unk u),
cppl AS (
  SELECT doc, idx,
         {sql_rnd(f"exp(-({sql_rnd('avg(lp)', 4)}))", 4)} AS ppl
  FROM scored GROUP BY doc, idx),
thr AS (SELECT {sql_rnd(f'quantile_cont(ppl, {CPPL_Q})', 4)} AS t FROM cppl),
verd AS (SELECT doc, idx, ppl, (ppl <= t) AS keep FROM cppl, thr)
SELECT c.doc AS doc_id, count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)::BIGINT AS n_cut,
       coalesce(string_agg(array_to_string(cw, ' '), ' ' ORDER BY c.idx)
                  FILTER (WHERE keep), '') AS clean_text
FROM chunk c JOIN verd USING (doc, idx) GROUP BY c.doc
"""


def q138_trend_fit(spark, sf_dir):
    """Per-series OLS linear trend (operators/timeseries.py:trend_fit,
    r9): slope per day / intercept / R² of value against time per
    event_type — the capacity-planning fit ("which metric is
    drifting?") beside q127's EWMA ("off its recent trend?") and
    q115's seasonal baseline. Moment-based on the rnd ladder, NOT
    regr_slope, so both engines derive identical doubles; averages
    keep the rounded magnitudes in the parity domain at any corpus
    size. Fully value-hash oracled."""
    return TS.trend_fit(_t(spark, sf_dir, "events"), "ts", "value",
                        ["event_type"])


# least-squares slope from the means mx, my, mx2 (of x²) and mxy (of x·y)
_LSQ_SLOPE = "CASE WHEN mx2 - mx*mx > 0 THEN (mxy - mx*my)/(mx2 - mx*mx) ELSE 0.0 END"

SQL_Q138 = f"""
WITH base AS (
  SELECT event_type,
         (floor(epoch(ts))::BIGINT
            - min(floor(epoch(ts))::BIGINT)
                OVER (PARTITION BY event_type)) / 86400.0 AS x,
         value::DOUBLE AS y
  FROM events),
m AS (
  SELECT event_type, count(*)::BIGINT AS n_samples,
         {sql_rnd('avg(x)', 8)} AS mx, {sql_rnd('avg(y)', 8)} AS my,
         {sql_rnd('avg(x*y)', 8)} AS mxy, {sql_rnd('avg(x*x)', 8)} AS mx2,
         {sql_rnd('avg(y*y)', 8)} AS my2
  FROM base GROUP BY event_type)
SELECT event_type, n_samples,
       {sql_rnd(_LSQ_SLOPE, 6)} AS slope_per_day,
       {sql_rnd(f'my - ({_LSQ_SLOPE}) * mx', 6)} AS intercept,
       {sql_rnd(
           'CASE WHEN mx2 - mx*mx > 0 AND my2 - my*my > 0 THEN '
           '((mxy - mx*my)/(mx2 - mx*mx)) * ((mxy - mx*my)/(my2 - my*my)) '
           'ELSE 0.0 END', 6)} AS r2
FROM m
"""


# exactly PASSAGE_WORDS words, so prepending it shifts a document's
# own passages by one full window and they stay grid-aligned
BOILER_HEADER = "cookie notice we use cookies accept the policy"
BOILER_MIN_DF = 3


def q137_boilerplate_cut(spark, sf_dir):
    """Cross-document boilerplate removal (functions/dedup.py:
    boilerplate_cut, r9): every 8-word passage appearing in ≥ 3
    distinct documents is cut from ALL of them — including the first
    occurrence, the policy complement of q94's keep-first passage
    dedup (RefinedWeb §3.1 / CCNet paragraph filtering: boilerplate
    survives zero times, unique content is untouched). Corpus =
    documents with an 8-word cookie-banner header planted on every
    doc_id % 3 == 0 row; naturally-duplicated texts' passages get cut
    too once they clear the df threshold. No pair enumeration
    anywhere — df agg + hash-keyed join, linear at any corpus size.
    Full clean_text value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(BOILER_HEADER + " "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return D.boilerplate_cut(docs, "text", "doc_id",
                             passage_words=PASSAGE_WORDS,
                             min_df=BOILER_MIN_DF)


SQL_Q137 = rf"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '{BOILER_HEADER} ' || text
              ELSE text END AS text
  FROM documents),
words AS (
  SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS w FROM corpus),
p0 AS (
  SELECT doc, w,
         unnest(range(0, greatest(
           CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT), 1))) AS idx
  FROM words),
pass AS (
  SELECT doc, idx,
         array_to_string(list_transform(
           range(idx * {PASSAGE_WORDS} + 1,
                 least((idx + 1) * {PASSAGE_WORDS}, len(w)) + 1),
           j -> w[j]), ' ') AS passage
  FROM p0),
hashed AS (SELECT doc, idx, passage, md5(passage) AS h FROM pass),
dfreq AS (SELECT h, count(DISTINCT doc) AS df FROM hashed GROUP BY h),
flagged AS (
  SELECT doc, idx, passage, (df >= {BOILER_MIN_DF}) AS boiler
  FROM hashed JOIN dfreq USING (h))
SELECT doc AS doc_id, count(*)::BIGINT AS n_passages,
       sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
       coalesce(string_agg(passage, ' ' ORDER BY idx)
                  FILTER (WHERE NOT boiler), '') AS clean_text
FROM flagged GROUP BY doc
"""


# width 16 on the 31-token synthetic vocab FORCES bucket collisions,
# so the min-over-rows estimate path does real work in the gate
# (width 256 would make every estimate exact and the gate vacuous);
# production sizing is width ≈ e/ε, depth ≈ ln(1/δ)
CMS_W, CMS_D = 16, 4


def q136_count_min(spark, sf_dir):
    """Count-min sketch frequency estimates (operators/sketches.py:
    cms_build/cms_estimate, r9; Cormode & Muthukrishnan 2005): the
    mergeable d×w counter matrix over the corpus token stream, point-
    queried for every distinct token against its exact count — the
    frequency sibling of q54's Bloom membership gate, completing the
    sketch family (HLL / KLL / hash-sample / heavy hitters / Bloom /
    CMS). ``overcount = est − true`` is ≥ 0 by construction (CMS
    never underestimates); the pytest pins that invariant plus the
    ε-bound. Probing ALL distinct tokens is gate-scale convenience —
    production probes heavy-hitter candidates; the sketch itself is
    d·w = 1024 cells regardless of corpus size. Fully value-hash
    oracled (portable md5 hash family, the bloom scheme)."""
    from .operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("t")
    )
    truec = toks.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    counters = SK.cms_build(toks, "t", width=CMS_W, depth=CMS_D)
    est = SK.cms_estimate(counters, truec.select("t"), "t",
                          width=CMS_W, depth=CMS_D)
    return truec.join(est, "t").select(
        F.col("t").alias("token"),
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).cast("long")
        .alias("overcount"),
    )


SQL_Q136 = rf"""
WITH words AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
tok AS (SELECT unnest(w) AS t FROM words),
truec AS (SELECT t, count(*)::BIGINT AS true_cnt FROM tok GROUP BY t),
pos AS (
  SELECT t, true_cnt, r.j,
         ('0x' || substr(md5(r.j::VARCHAR || ':' || t), 1, 8))::BIGINT
           % {CMS_W} AS b
  FROM truec CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS j) r),
cms AS (SELECT j, b, sum(true_cnt)::BIGINT AS cnt FROM pos GROUP BY j, b),
est AS (
  SELECT p.t, min(coalesce(c.cnt, 0))::BIGINT AS est_cnt
  FROM pos p LEFT JOIN cms c ON p.j = c.j AND p.b = c.b GROUP BY p.t)
SELECT tr.t AS token, tr.true_cnt, e.est_cnt,
       (e.est_cnt - tr.true_cnt)::BIGINT AS overcount
FROM truec tr JOIN est e ON tr.t = e.t
"""


RRF_POOL, RRF_TOPK, RRF_RK = 20, 10, 60
# the eval-suite contract made explicit: the hybrid query set is
# BOUNDED (id < cap), never corpus-proportional — without it both
# pools grow with |queries| ∝ |corpus| and the whole hybrid goes
# quadratic (measured 27.9× at 10× before the cap + champion cut;
# 1.6× after — docs/SCALING.md r9 wave-2 table)
RRF_QMAX = 5_000


# One hybrid-RRF pool serves q134 AND q143's MMR re-rank (which
# previously re-ran the whole champion-BM25 + brute-cosine + fusion
# chain to build its candidate pool). Bounded: ≤ RRF_TOPK rows per
# eval query. Session-lived like the other family memos; bench times
# the build as its own ``_memo_hybrid_rrf`` line.
@session_memo("_memo_hybrid_rrf")
def _rrf_pool_shared(spark, sf_dir) -> DataFrame:
    return _hybrid_rrf_build(spark, sf_dir).cache()


def q134_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (functions/
    retrieval.py:rrf_fuse, r9; Cormack & Clarke & Buettcher 2009):
    the champion-cut BM25 pool (q131's bounded scale path — per-term
    work ≤ 64 postings, the exact scorer's hot-term blow-up is the
    measured q124 16.7× cliff) and the exact-cosine pool over the
    BOUNDED eval query set (≤ 100 queries at any sf — the eval-suite
    contract; the corpus side stays linear), depth 20 each, fused by
    ``Σ 1/(60 + rank)`` — the standard RAG hybrid ranker joining the
    sparse and dense retrieval families end to end. Fusion shuffles
    eval-suite-sized frames only; fully value-hash oracled (the
    oracle nests the champion BM25 CTE chain and the SQL_Q35 cosine
    expression). For corpora where even the linear exact-cosine pool
    is too hot, swap in ann_topk_ivf_portable (oracled by q142).
    Since r12 the fused pool is session-memoized
    (``_rrf_pool_shared``) — q143's MMR previously re-ran the whole
    chain to build its candidate pool."""
    return _rrf_pool_shared(spark, sf_dir)


def _hybrid_rrf_build(spark, sf_dir):
    from .functions import retrieval as RV

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qs = docs.where(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < RRF_QMAX)
    ).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ",
            F.slice(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                1, QUERY_PREFIX_TOKENS,
            ),
        ).alias("query"),
    )
    lex = RV.bm25_topk_champions(
        docs.where(F.col("doc_id") % 50 != 0), qs, "text", "doc_id",
        k=RRF_POOL, champions=BM25_CHAMPIONS,
        postings=_postings_shared(spark, sf_dir),
    ).select("query_id", "doc_id", "rank")
    emb = _t(spark, sf_dir, "embeddings")
    sem = S.ann_topk_bruteforce(
        emb.where(F.col("vec_id") % 50 != 0),
        emb.where(
            (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < RRF_QMAX)
        ),
        "vec_id", "embedding", RRF_POOL,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return RV.rrf_fuse(lex, sem, k=RRF_TOPK, rrf_k=RRF_RK)


_RRF_U = (
    f"coalesce({sql_rnd('1.0 / (%d + l.lr)' % RRF_RK, 8)}, 0.0)"
    f" + coalesce({sql_rnd('1.0 / (%d + s.sr)' % RRF_RK, 8)}, 0.0)"
)

SQL_Q134 = f"""
WITH lex0 AS ({_sql_bm25(champions=BM25_CHAMPIONS, k=RRF_POOL, qmax=RRF_QMAX)}),
lex AS (SELECT query_id, doc_id, "rank" AS lr FROM lex0),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
nv AS (SELECT vec_id, e,
              sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
semsc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         {sql_rnd('list_dot_product(q.e, c.e) / (q.nrm * c.nrm)', 4)} AS cosine
  FROM nv q JOIN nv c ON c.vec_id % 50 != 0
  WHERE q.vec_id % 50 = 0 AND q.vec_id < {RRF_QMAX}),
sem AS (
  SELECT query_id, doc_id, rnk AS sr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, doc_id ASC) AS rnk
    FROM semsc) WHERE rnk <= {RRF_POOL}),
u AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         {sql_rnd(_RRF_U, 8)} AS rrf,
         coalesce(l.lr, 0)::BIGINT AS lex_rank,
         coalesce(s.sr, 0)::BIGINT AS sem_rank
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
SELECT query_id, rnk::BIGINT AS "rank", doc_id, rrf, lex_rank, sem_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id ASC) AS rnk
      FROM u)
WHERE rnk <= {RRF_TOPK}
"""

# materialized here, AFTER SQL_Q134 (its pool CTE) exists in module
# order — _sql_mmr() itself is defined beside q143 above
SQL_Q143 = _sql_mmr()


CAP_LIMIT = 150.0


def q147_capacity_forecast(spark, sf_dir):
    """Time-to-threshold capacity forecast (operators/timeseries.py:
    capacity_forecast, r9): extrapolate q138's per-series OLS line to
    the day it crosses 150 — "this filesystem fills in 12 days", the
    question the reference's trend charts (code/dia_compute_pl.py)
    leave the operator to answer by eye. Same rounded-moment parity
    contract as q138; days_to_limit divides ROUNDED headroom by the
    ROUNDED slope so both engines divide identical bit patterns.
    Fully value-hash oracled."""
    return TS.capacity_forecast(_t(spark, sf_dir, "events"), "ts",
                                "value", ["event_type"],
                                limit=CAP_LIMIT)


_CF_FIT = f"(my - ({_LSQ_SLOPE}) * mx) + ({_LSQ_SLOPE}) * xmax"

SQL_Q147 = f"""
WITH base AS (
  SELECT event_type,
         (floor(epoch(ts))::BIGINT
            - min(floor(epoch(ts))::BIGINT)
                OVER (PARTITION BY event_type)) / 86400.0 AS x,
         value::DOUBLE AS y
  FROM events),
m AS (
  SELECT event_type, count(*)::BIGINT AS n_samples,
         {sql_rnd('avg(x)', 8)} AS mx, {sql_rnd('avg(y)', 8)} AS my,
         {sql_rnd('avg(x*y)', 8)} AS mxy, {sql_rnd('avg(x*x)', 8)} AS mx2,
         max(x) AS xmax
  FROM base GROUP BY event_type),
d AS (
  SELECT event_type, n_samples,
         {sql_rnd(_LSQ_SLOPE, 6)} AS slope_per_day,
         {sql_rnd(_CF_FIT, 6)} AS fit_now
  FROM m)
SELECT event_type, n_samples, slope_per_day, fit_now,
       CASE WHEN fit_now < {CAP_LIMIT!r} AND slope_per_day > 0
            THEN {sql_rnd(f'({CAP_LIMIT!r} - fit_now) / slope_per_day', 4)}
       END AS days_to_limit,
       CASE WHEN fit_now >= {CAP_LIMIT!r} THEN 'breached'
            WHEN slope_per_day > 0 THEN 'rising'
            ELSE 'flat' END AS status
FROM d
"""


LAGC_A, LAGC_B, LAGC_MAX = "click", "view", 6


def q148_lag_correlation(spark, sf_dir):
    """Lead/lag cross-correlation (operators/timeseries.py:
    lag_correlation, r9): corr(click(t), view(t − k h)) for k = 0..6
    over a shared hourly mean grid — "does one metric lead the
    other?", the causal-direction question the reference's overlay
    charts (multi_files_pl.py) leave to the eye. One fact-table
    shuffle (the grid agg); the lag fan-out explodes a 7-element
    literal against the grid, and corr derives from rnd-ladder
    moments (q138 contract). Fully value-hash oracled."""
    return TS.lag_correlation(_t(spark, sf_dir, "events"), "ts",
                              "value", "event_type", LAGC_A, LAGC_B,
                              max_lag=LAGC_MAX)


_LAGC_CORR = ("(mxy - mx*my) / sqrt((mx2 - mx*mx) * (my2 - my*my))")

SQL_Q148 = f"""
WITH grid AS (
  SELECT event_type,
         (floor(floor(epoch(ts))::BIGINT / 3600) * 3600)::BIGINT AS bucket,
         {sql_rnd('avg(value::DOUBLE)', 8)} AS v
  FROM events
  WHERE event_type IN ({LAGC_A!r}, {LAGC_B!r})
  GROUP BY event_type, bucket),
a AS (SELECT bucket AS ab, v AS av FROM grid
      WHERE event_type = {LAGC_A!r}),
b AS (SELECT bucket AS bb, v AS bv FROM grid
      WHERE event_type = {LAGC_B!r}),
pairs AS (
  SELECT lag, av, bv
  FROM a CROSS JOIN unnest([{', '.join(str(k) for k in range(LAGC_MAX + 1))}]) AS t(lag)
  JOIN b ON a.ab - t.lag * 3600 = b.bb),
m AS (
  SELECT lag, count(*)::BIGINT AS n_pairs,
         {sql_rnd('avg(av)', 8)} AS mx, {sql_rnd('avg(bv)', 8)} AS my,
         {sql_rnd('avg(av*bv)', 8)} AS mxy,
         {sql_rnd('avg(av*av)', 8)} AS mx2,
         {sql_rnd('avg(bv*bv)', 8)} AS my2
  FROM pairs GROUP BY lag)
SELECT lag::INTEGER AS lag, n_pairs,
       CASE WHEN n_pairs >= 2 AND mx2 - mx*mx > 0 AND my2 - my*my > 0
            THEN {sql_rnd(_LAGC_CORR, 6)}
       END AS lag_corr
FROM m ORDER BY lag
"""


def q159_packing_report(spark, sf_dir):
    """Sequence-packing efficiency report (r9): per shard of q73's
    GPT-style concatenate-then-split layout — chunk/token totals,
    sequences produced, boundary STRADDLES (chunks cut by a sequence
    boundary: the attention-contamination statistic packing papers
    track), and the tail sequence's fill ratio (the only waste this
    packing can produce). Pure |shards|-row rollup of the oracled q73
    layout. Fully value-hash oracled."""
    packed = q73_pack_sequences(spark, sf_dir)
    cap = F.lit(PACK_CAPACITY)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.countDistinct("seq_id")).cast("long").alias("n_seqs"),
            F.sum(
                F.when(F.col("seq_offset") + F.col("n_tokens") > cap, 1)
                 .otherwise(0)
            ).cast("long").alias("n_straddles"),
        )
        .select(
            "shard", "n_chunks", "total_tokens", "n_seqs", "n_straddles",
            rnd(
                (F.col("total_tokens") % cap).cast("double")
                / cap.cast("double"),
                4,
            ).alias("tail_fill"),
        )
    )


SQL_Q159 = f"""
WITH packed AS ({SQL_Q73})
SELECT shard, count(*)::BIGINT AS n_chunks,
       sum(n_tokens)::BIGINT AS total_tokens,
       count(DISTINCT seq_id)::BIGINT AS n_seqs,
       sum(CASE WHEN seq_offset + n_tokens > {PACK_CAPACITY}
                THEN 1 ELSE 0 END)::BIGINT AS n_straddles,
       {sql_rnd(f'(sum(n_tokens) % {PACK_CAPACITY})::DOUBLE / {PACK_CAPACITY}', 4)}
         AS tail_fill
FROM packed GROUP BY shard
"""


def q160_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift statistic (operators/
    stats.py:ks_two_sample, r9): D = max |ECDF_old − ECDF_new| of the
    per-document word count between the corpus snapshot (doc_id % 10
    != 9) and the arriving batch (% 10 == 9, the q141 split) — the
    metric-distribution drift gate beside q114's token-distribution
    JS divergence and q135's identity diff: "does the new crawl's
    length profile even look like the old one?". ECDFs accumulate
    over the DISTINCT-value frame (bounded by the value domain, not
    the corpus — word counts round to integers), so no corpus-wide
    sort exists anywhere. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(TX.WS_TOKEN_PATTERN))
        .cast("double").alias("v"),
    )
    old = docs.where(F.col("doc_id") % 10 != 9)
    new = docs.where(F.col("doc_id") % 10 == 9)
    return ST.ks_two_sample(old, new, "v")


SQL_Q160 = f"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{TX.WS_TOKEN_PATTERN}'))::DOUBLE AS v
  FROM documents),
a AS (SELECT v FROM base WHERE doc_id % 10 != 9),
b AS (SELECT v FROM base WHERE doc_id % 10 = 9),
na AS (SELECT count(*)::DOUBLE AS n FROM a),
nb AS (SELECT count(*)::DOUBLE AS n FROM b),
vals AS (
  SELECT v,
         sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM (SELECT v, 'a' AS side FROM a
        UNION ALL SELECT v, 'b' FROM b)
  GROUP BY v),
ecdf AS (
  SELECT v,
         {sql_rnd('sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)'
                  ' / na.n', 8)} AS fa,
         {sql_rnd('sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)'
                  ' / nb.n', 8)} AS fb
  FROM vals, na, nb)
SELECT na.n::BIGINT AS n_old, nb.n::BIGINT AS n_new,
       {sql_rnd('max(abs(fa - fb))', 6)} AS ks_d
FROM ecdf, na, nb GROUP BY na.n, nb.n
"""


def q161_classifier_auc(spark, sf_dir):
    """Classifier ROC-AUC by rank statistic (functions/classify.py:
    auc_score, r9; Mann–Whitney U with average ranks for ties): the
    one-number discrimination audit of the q104 quality classifier
    against its provenance labels, beside q120's calibration report
    ("sharp AND honest"). Scalable by construction: scores are
    ROUNDED (4 digits), so ranks accumulate over the DISTINCT-score
    frame (model-sized) and broadcast back — no corpus-wide sort or
    single-partition window anywhere. Fully value-hash oracled by
    nesting the q104 chain."""
    from .functions import classify as C

    scored = q104_quality_classifier(spark, sf_dir)
    out = C.auc_score(scored, "p_good", "label")
    out._cached_inputs = getattr(scored, "_cached_inputs", [])
    return out


SQL_Q161 = f"""
WITH scored AS ({SQL_Q104}),
vals AS (
  SELECT p_good AS s, count(*)::BIGINT AS n,
         sum(label)::BIGINT AS n_pos
  FROM scored GROUP BY p_good),
ranked AS (
  SELECT s, n, n_pos,
         coalesce(sum(n) OVER (ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS below
  FROM vals),
tot AS (
  SELECT sum(n_pos)::DOUBLE AS np,
         (sum(n) - sum(n_pos))::DOUBLE AS nn,
         {sql_rnd('sum(n_pos * (below + (n + 1) / 2.0))', 6)} AS rsum
  FROM ranked)
SELECT np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       {sql_rnd('(rsum - np * (np + 1) / 2.0) / (np * nn)', 6)} AS auc
FROM tot
"""


HEAPS_BUCKETS = 10
_HB = ("(((doc_id % 1000003) * 2654435761) % "
       f"{HEAPS_BUCKETS} + {HEAPS_BUCKETS}) % {HEAPS_BUCKETS}")


def q163_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary growth curve (functions/text.py:
    heaps_law, r9): V(N) ≈ k·N^b over 10 deterministic id-hash
    corpus prefixes — the companion to q125's Zipf diagnostics
    ("is vocabulary still growing, or has boilerplate saturated
    it?"). The quadratic per-prefix distinct count collapses to ONE
    pass: each token type reduces to its first-occurrence bucket and
    the cumulation of first occurrences IS V(prefix); log-log OLS on
    the rnd ladder. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.heaps_law(docs, "text", "doc_id", buckets=HEAPS_BUCKETS)


SQL_Q163 = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents),
t2 AS (SELECT {_HB} AS b, w FROM toks WHERE w != ''),
firsts AS (SELECT w, min(b) AS fb FROM t2 GROUP BY w),
newt AS (SELECT fb AS b, count(*)::BIGINT AS new_types
         FROM firsts GROUP BY fb),
docs AS (SELECT {_HB} AS b, count(*)::BIGINT AS n_docs
         FROM documents GROUP BY 1),
tks AS (SELECT b, count(*)::BIGINT AS n_toks FROM t2 GROUP BY b),
base AS (
  SELECT d.b AS bucket, d.n_docs,
         coalesce(t.n_toks, 0) AS n_toks,
         coalesce(n.new_types, 0) AS new_types
  FROM docs d LEFT JOIN tks t ON t.b = d.b
  LEFT JOIN newt n ON n.b = d.b),
cum AS (
  SELECT bucket,
         sum(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)::BIGINT
           AS cum_docs,
         sum(n_toks) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)::BIGINT
           AS cum_tokens,
         sum(new_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)::BIGINT
           AS cum_vocab
  FROM base),
pts AS (
  SELECT bucket, cum_docs, cum_tokens, cum_vocab,
         {sql_rnd('ln(cum_tokens::DOUBLE)', 8)} AS x,
         {sql_rnd('ln(cum_vocab::DOUBLE)', 8)} AS y
  FROM cum WHERE cum_tokens > 0),
m AS (
  SELECT {sql_rnd('avg(x)', 8)} AS mx, {sql_rnd('avg(y)', 8)} AS my,
         {sql_rnd('avg(x*y)', 8)} AS mxy, {sql_rnd('avg(x*x)', 8)} AS mx2
  FROM pts),
fit AS (
  SELECT {sql_rnd(_LSQ_SLOPE, 6)} AS heaps_b,
         {sql_rnd(f'my - ({_LSQ_SLOPE}) * mx', 6)} AS heaps_logk
  FROM m)
SELECT bucket, cum_docs, cum_tokens, cum_vocab, heaps_b, heaps_logk
FROM pts, fit
"""


def q165_bigram_entropy(spark, sf_dir):
    """Per-source bigram conditional entropy H(w₂|w₁) (functions/
    text.py:bigram_entropy, r9): the slice-level predictability
    diagnostic — templated/machine-generated sources collapse toward
    0, diverse prose sits high; complements q84/q95/q126 (which score
    DOCUMENTS under a corpus LM) and q114 (which compares slices but
    can't see internal repetitiveness). Entropy terms ride the ladder
    as shares (the Z99 averages rule), so the parity domain holds at
    any corpus size. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    return TX.bigram_entropy(docs, "text", "doc_id", "source")


SQL_Q165 = rf"""
WITH words AS (
  SELECT source, doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents),
big0 AS (
  SELECT source,
         unnest(list_transform(range(1, len(l)),
                i -> struct_pack(w := l[i], w2 := l[i+1]))) AS pr
  FROM words WHERE len(l) >= 2),
big AS (
  SELECT source, pr.w AS w, pr.w2 AS w2, count(*)::DOUBLE AS n12
  FROM big0 WHERE pr.w != '' AND pr.w2 != ''
  GROUP BY source, pr.w, pr.w2),
ctx AS (
  SELECT source, w, sum(n12) AS n1, count(*)::BIGINT AS pairs
  FROM big GROUP BY source, w),
tot AS (
  SELECT source, sum(n1) AS nb, sum(pairs)::BIGINT AS n_unique_bigrams,
         count(*)::BIGINT AS n_unique_contexts
  FROM ctx GROUP BY source),
terms AS (
  SELECT b.source,
         {sql_rnd(f"-({sql_rnd('b.n12 / t.nb', 8)}) * ln({sql_rnd('b.n12 / c.n1', 8)})", 8)}
           AS tt
  FROM big b JOIN ctx c ON c.source = b.source AND c.w = b.w
  JOIN tot t ON t.source = b.source),
ent AS (
  SELECT source, {sql_rnd('sum(tt)', 4)} AS cond_entropy
  FROM terms GROUP BY source)
SELECT t.source, t.nb::BIGINT AS n_bigrams, t.n_unique_bigrams,
       t.n_unique_contexts, e.cond_entropy
FROM tot t JOIN ent e USING (source)
"""


COVERAGE_CUTOFFS = (10, 20, 30, 50)


def q166_coverage_curve(spark, sf_dir):
    """Token-coverage curve (functions/text.py:coverage_curve, r9):
    fraction of token occurrences covered by the top-K types at
    several vocab cutoffs — the tokenizer-sizing diagnostic turning
    q110's single-vocab OOV audit into the curve a designer reads
    (cutoffs sized to the synthetic corpus's ~31-type vocab so the
    clamp path is exercised live). Ranks tie-break by token (the
    q125 convention); windows run over the model-sized vocab frame
    only. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.coverage_curve(docs, "text", "doc_id",
                             cutoffs=COVERAGE_CUTOFFS)


SQL_Q166 = rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents),
vc AS (
  SELECT w, count(*)::BIGINT AS c FROM toks WHERE w != '' GROUP BY w),
cum AS (
  SELECT row_number() OVER (ORDER BY c DESC, w ASC) AS rk,
         sum(c) OVER (ORDER BY c DESC, w ASC
                      ROWS UNBOUNDED PRECEDING) AS cumc
  FROM vc),
tot AS (SELECT sum(c)::DOUBLE AS n, count(*)::BIGINT AS v FROM vc),
cuts AS (
  SELECT unnest([{', '.join(str(int(k)) for k in COVERAGE_CUTOFFS)}])
           AS cutoff),
sel AS (
  SELECT cutoff, t.n, least(cutoff, t.v)::BIGINT AS rk
  FROM cuts, tot t)
SELECT s.cutoff::INTEGER AS cutoff, s.rk AS vocab_used,
       c.cumc::BIGINT AS covered_tokens,
       {sql_rnd('c.cumc::DOUBLE / s.n', 6)} AS coverage
FROM sel s JOIN cum c ON c.rk = s.rk
ORDER BY s.cutoff
"""


def q169_length_histogram(spark, sf_dir):
    """Per-source document-length log₂ histogram (r9): counts per
    power-of-two character-length bin — the "why is my p99 document
    10 MB" profile every corpus datasheet opens with (q101 gives
    moments; this gives the SHAPE — bimodal sources, truncation
    spikes, boilerplate walls all show up as bins). Bin = the
    integer log₂ band of n_chars (exact integer comparison domain:
    floor(log2(n)) via bit length is replayed as floor(ln(n)/ln(2))
    on ROUNDED doubles — both engines floor identical values because
    the input is an exact integer and the ratio is pre-rounded at 8).
    Empty docs land in bin −1. One codegen map + one (source, bin)
    combinable agg. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    n = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    lb = F.when(n <= 0, F.lit(-1)).otherwise(
        F.floor(rnd(F.log2(n), 8)).cast("int")
    )
    return (
        docs.groupBy("source", lb.alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(n).cast("long").alias("min_chars"),
            F.max(n).cast("long").alias("max_chars"),
        )
    )


SQL_Q169 = f"""
SELECT source,
       CASE WHEN length(coalesce(text, '')) <= 0 THEN -1
            ELSE floor({sql_rnd("ln(length(coalesce(text, ''))::DOUBLE) / ln(2.0)", 8)})::INTEGER
       END AS log2_bin,
       count(*)::BIGINT AS n_docs,
       min(length(coalesce(text, '')))::BIGINT AS min_chars,
       max(length(coalesce(text, '')))::BIGINT AS max_chars
FROM documents
GROUP BY source, log2_bin
"""


def q164_embedding_card(spark, sf_dir):
    """One-row embedding-corpus card (functions/similarity.py:
    embedding_card, r9): vector/NULL counts, dimension envelope
    (ragged-array detector), zero-norm count (cosine poison), norm
    envelope/mean — the sanity audit before ANN/SemDeDup/PCA/PQ
    trusts the table; the embedding twin of q101's text corpus card.
    One map stage + one global combinable agg. Fully value-hash
    oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_card(emb, "vec_id", "embedding")


_EC_NRM = sql_rnd(
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)"
    " * CAST(x AS DOUBLE))))", 8)

SQL_Q164 = f"""
WITH e AS (
  SELECT vec_id,
         CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
         CASE WHEN embedding IS NULL THEN NULL
              ELSE len(embedding) END AS dim,
         CASE WHEN embedding IS NULL THEN NULL
              ELSE {_EC_NRM} END AS nrm
  FROM embeddings)
SELECT count(*)::BIGINT AS n_vectors,
       sum(is_null)::BIGINT AS n_null,
       min(dim)::BIGINT AS min_dim, max(dim)::BIGINT AS max_dim,
       sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END)::BIGINT
         AS n_zero_norm,
       min(nrm) AS min_norm, max(nrm) AS max_norm,
       {sql_rnd('avg(nrm)', 6)} AS mean_norm
FROM e
"""


BAND_PROBS = (0.05, 0.5, 0.95)


def q162_hourly_bands(spark, sf_dir):
    """Hour-of-day percentile bands (O3's distributed-rank percentile
    over the q22 profile keys, r9): exact p5/p50/p95 of value per
    (event_type, hour) — the chartable envelope the reference's
    hourly views draw as a line (dataframe_funcs_pl.py:39 buckets by
    hour; this adds the spread the mean hides). 120 groups, one
    range-exchange, no single-task group anywhere (the O3/Y15
    machinery). Fully value-hash oracled vs quantile_cont."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour(F.col("ts")).cast("long").alias("hour"),
        "value",
    )
    return ST.percentiles(ev, "value", ["event_type", "hour"],
                          probs=BAND_PROBS)


SQL_Q162 = f"""
SELECT event_type, hour(ts)::BIGINT AS hour,
       {sql_rnd('quantile_cont(value, 0.05)', 4)} AS p5,
       {sql_rnd('quantile_cont(value, 0.50)', 4)} AS p50,
       {sql_rnd('quantile_cont(value, 0.95)', 4)} AS p95
FROM events GROUP BY event_type, hour(ts)
"""

# --------------------------------------------------------------------
# r9 wave 4: contrastive selection, bootstrap CIs, coreset selection,
# embedding outliers, threshold sweep, split-leakage audit
# --------------------------------------------------------------------

ML_TARGET_LANG = "en"
ML_VOCAB = 20
ML_DELTA = 0.5


def q170_moore_lewis(spark, sf_dir):
    """Cross-entropy difference selection (functions/text.py:
    moore_lewis; Moore & Lewis 2010): in-domain unigram LM (lang=en
    docs) vs the complement LM, every doc scored by the per-token
    log-prob difference — the classic cheap domain filter run before
    any learned classifier exists (contrastive complement of q84's
    single-model fluency). One token explode, one conditional count
    agg, two broadcast V-row models, one scoring pass. Fully
    value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "ind0", (F.col("lang") == ML_TARGET_LANG).cast("int")
    )
    return TX.moore_lewis(docs, "text", "doc_id", "ind0",
                          vocab_size=ML_VOCAB, delta=ML_DELTA)


_ML_DEN = ML_DELTA * (ML_VOCAB + 1)

SQL_Q170 = f"""
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w,
         CASE WHEN lang = '{ML_TARGET_LANG}' THEN 1 ELSE 0 END AS ind
  FROM documents),
cnts AS (
  SELECT w, sum(ind)::DOUBLE AS c_in, sum(1 - ind)::DOUBLE AS c_gen
  FROM toks GROUP BY w),
ti AS (SELECT sum(c_in) AS n FROM cnts),
tg AS (SELECT sum(c_gen) AS n FROM cnts),
vi AS (SELECT w, c_in AS c FROM cnts WHERE c_in > 0
       ORDER BY c_in DESC, w ASC LIMIT {ML_VOCAB}),
vg AS (SELECT w, c_gen AS c FROM cnts WHERE c_gen > 0
       ORDER BY c_gen DESC, w ASC LIMIT {ML_VOCAB}),
ui AS (SELECT coalesce(sum(c_in), 0) AS cu FROM cnts
       WHERE w NOT IN (SELECT w FROM vi)),
ug AS (SELECT coalesce(sum(c_gen), 0) AS cu FROM cnts
       WHERE w NOT IN (SELECT w FROM vg)),
scored AS (
  SELECT t.doc,
         {sql_rnd(f'ln((coalesce(vi.c, ui.cu) + {ML_DELTA}) / (ti.n + {_ML_DEN}))', 8)} AS lpi,
         {sql_rnd(f'ln((coalesce(vg.c, ug.cu) + {ML_DELTA}) / (tg.n + {_ML_DEN}))', 8)} AS lpg
  FROM toks t
  LEFT JOIN vi ON t.w = vi.w
  LEFT JOIN vg ON t.w = vg.w, ti, tg, ui, ug),
agg AS (
  SELECT doc, count(*)::BIGINT AS n_tokens,
         {sql_rnd('avg(lpi)', 4)} AS avg_lp_in,
         {sql_rnd('avg(lpg)', 4)} AS avg_lp_gen
  FROM scored GROUP BY doc)
SELECT doc AS doc_id, n_tokens, avg_lp_in, avg_lp_gen,
       {sql_rnd('avg_lp_in - avg_lp_gen', 4)} AS ce_diff,
       CASE WHEN {sql_rnd('avg_lp_in - avg_lp_gen', 4)} > 0
            THEN 1 ELSE 0 END::BIGINT AS selected
FROM agg
"""


BOOT_REPS = 200
# Poisson(1) inverse-CDF thresholds scaled to the integer hash domain
# [0, 1e6): P(X<=k) for k = 0..7; u >= the last threshold draws 8.
# Exact integer comparisons — no float CDF can straddle an ulp.
BOOT_CDF = (367879, 735759, 919699, 981012, 996340, 999406, 999917,
            999990)
BOOT_PROBS = (0.05, 0.5, 0.95)


def q171_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap confidence bands (Chamandy et al. 2012,
    "Estimating Uncertainty for Massive Data Streams"): per-source
    mean document length with a 90% bootstrap band from
    200 replicates. Each (doc, replicate) draws a
    DETERMINISTIC Poisson(1) weight via the portable integer hash
    (inverse-CDF thresholds as exact integer literals), so the
    resampling itself is engine-replayable — the one-pass,
    shuffle-free way to put error bars on any corpus statistic at
    100 TB (no resampled copies of the data, just one weighted agg
    per replicate over a 3-column frame). Replicate means feed the
    O3 distributed-rank percentile machinery. Fully value-hash
    oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
        .alias("x"),
    )
    reps = docs.select(
        "doc_id", "source", "x",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("b"),
    )
    u = F.pmod(
        ((F.col("doc_id") * 131 + F.col("b")) % 1_000_003) * 2654435761,
        F.lit(1_000_000),
    )
    w = F.when(u < BOOT_CDF[0], 0)
    for i, thr in enumerate(BOOT_CDF[1:], start=1):
        w = w.when(u < thr, i)
    w = w.otherwise(len(BOOT_CDF)).cast("double")
    means = (
        reps.select("source", "b", w.alias("w"), "x")
        .groupBy("source", "b")
        .agg(
            rnd(
                F.sum(F.col("w") * F.col("x"))
                / F.nullif(F.sum("w"), F.lit(0.0)),
                6,
            ).alias("mean_b")
        )
    )
    bands = ST.percentiles(means, "mean_b", ["source"], probs=BOOT_PROBS)
    est = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        rnd(F.avg("x"), 6).alias("mean_chars"),
    )
    out = est.join(bands, "source")
    out._cached_inputs = getattr(bands, "_cached_inputs", [])
    return out


def _sql_boot_w() -> str:
    cases = " ".join(
        f"WHEN u < {thr} THEN {i}" for i, thr in enumerate(BOOT_CDF)
    )
    return f"CASE {cases} ELSE {len(BOOT_CDF)} END::DOUBLE"


SQL_Q171 = f"""
WITH d AS (
  SELECT doc_id, source,
         length(coalesce(text, ''))::DOUBLE AS x
  FROM documents),
m AS (
  SELECT source, b, {sql_rnd('sum(w * x) / nullif(sum(w), 0)', 6)} AS mean_b
  FROM (
    SELECT source, x, b, {_sql_boot_w()} AS w
    FROM (
      SELECT d.source, d.x, t.b,
             ((((d.doc_id * 131 + t.b) % 1000003) * 2654435761)
              % 1000000 + 1000000) % 1000000 AS u
      FROM d, (SELECT unnest(range(0, {BOOT_REPS})) AS b) t))
  GROUP BY source, b),
bands AS (
  SELECT source,
         {sql_rnd('quantile_cont(mean_b, 0.05)', 4)} AS p5,
         {sql_rnd('quantile_cont(mean_b, 0.50)', 4)} AS p50,
         {sql_rnd('quantile_cont(mean_b, 0.95)', 4)} AS p95
  FROM m GROUP BY source),
est AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         {sql_rnd('avg(x)', 6)} AS mean_chars
  FROM d GROUP BY source)
SELECT est.source, n_docs, mean_chars, p5, p50, p95
FROM est JOIN bands ON est.source = bands.source
"""


KCENTER_K = 6


def _sql_kcenter(k: int = KCENTER_K) -> str:
    """Unrolled greedy k-center as a CTE chain (the q86/q104/q118
    iterative-oracle pattern): each round one argmax CTE + one
    running-min distance CTE — the exact arithmetic kcenter_select
    runs, including the rounded-then-least composition AND the
    picked-id pool exclusion (each d{r} drops the round's center, so
    with duplicate embeddings — every remaining dmin 0 — or k > n the
    two engines still select identical centers / trace lengths;
    ADVICE r10 parity fix, pinned by
    tests/test_wave13.py::test_kcenter_sql_parity_duplicates)."""
    def d2(x: str, c: str) -> str:
        return (
            f"list_dot_product({x}.e, {x}.e)"
            f" + list_dot_product({c}.e, {c}.e)"
            f" - 2 * list_dot_product({x}.e, {c}.e)"
        )

    parts = [f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL),
c1 AS (
  SELECT vec_id, e FROM (
    SELECT vec_id, e, {sql_rnd('list_dot_product(e, e)', 6)} AS r
    FROM e)
  ORDER BY r DESC, vec_id ASC LIMIT 1),
d1 AS (
  SELECT x.vec_id, x.e, {sql_rnd(d2('x', 'c'), 6)} AS dmin
  FROM e x, c1 c WHERE x.vec_id <> c.vec_id)"""]
    for r in range(2, k + 1):
        parts.append(
            f"c{r} AS (SELECT vec_id, e, dmin FROM d{r - 1}"
            f" ORDER BY dmin DESC, vec_id ASC LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"d{r} AS (SELECT x.vec_id, x.e,"
                f" least(x.dmin, {sql_rnd(d2('x', 'c'), 6)}) AS dmin"
                f" FROM d{r - 1} x, c{r} c WHERE x.vec_id <> c.vec_id)"
            )
    sels = ["SELECT 1::BIGINT AS sel_round, vec_id, NULL::DOUBLE AS d2 FROM c1"]
    sels += [
        f"SELECT {r}::BIGINT, vec_id, dmin FROM c{r}"
        for r in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sels)


def q172_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset selection (functions/similarity.py:
    kcenter_select; Gonzalez 1985, Sener & Savarese 2018): the
    k-exemplar diversity cover of the embedding corpus — the
    hull-first complement of q146's prototypicality pruning. k−1
    linear scans with a running min-distance column; driver state is
    one center vector per round (model-sized, the Lloyd contract).
    The DuckDB twin unrolls all rounds into one CTE chain. Fully
    value-hash oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kcenter_select(emb, "vec_id", "embedding", k=KCENTER_K)


SQL_Q172 = _sql_kcenter()


OUTLIER_TOPK = 20


def q173_embedding_outliers(spark, sf_dir):
    """Diagonal-Mahalanobis embedding outliers (functions/
    similarity.py:embedding_outliers): per-dim (μ, σ) in one
    explode-agg, every vector scored sqrt(mean_d z_d²), top-20 by
    score — the "wrong-encoder / corrupt row" audit beside q164's
    envelope card. One N·D explode, one D-row broadcast model, one
    TakeOrdered. Fully value-hash oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_outliers(emb, "vec_id", "embedding",
                                top_k=OUTLIER_TOPK)


SQL_Q173 = f"""
WITH ex AS (
  SELECT vec_id, unnest(range(0, len(embedding))) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings WHERE embedding IS NOT NULL),
st AS (
  SELECT d, {sql_rnd('avg(x)', 8)} AS mu,
         {sql_rnd('stddev_pop(x)', 8)} AS sd
  FROM ex GROUP BY d),
t AS (
  SELECT vec_id,
         CASE WHEN sd > 0
              THEN {sql_rnd('((x - mu) / sd) * ((x - mu) / sd)', 8)}
              ELSE 0.0 END AS t
  FROM ex JOIN st USING (d)),
s AS (SELECT vec_id, {sql_rnd('sqrt(avg(t))', 6)} AS mah
      FROM t GROUP BY vec_id)
SELECT vec_id, mah FROM s
ORDER BY mah DESC, vec_id ASC LIMIT {OUTLIER_TOPK}
"""


SWEEP_TAUS = tuple(round(t * 0.05, 2) for t in range(1, 20))


def q174_threshold_sweep(spark, sf_dir):
    """Classifier operating-point table (functions/classify.py:
    threshold_sweep): confusion counts + precision/recall/F1 at 19
    thresholds over the q104 scores — the table a curator PICKS the
    filter threshold from (q161 says the ranking works; q120 says
    the probabilities are honest; this says what τ costs). One pass,
    19× row amplification on a 2-column frame, one combinable agg.
    Fully value-hash oracled by nesting the q104 chain."""
    from .functions import classify as C

    scored = q104_quality_classifier(spark, sf_dir)
    out = C.threshold_sweep(scored, "p_good", "label", taus=SWEEP_TAUS)
    out._cached_inputs = getattr(scored, "_cached_inputs", [])
    return out


_SWEEP_LIST = ", ".join(repr(t) for t in SWEEP_TAUS)

SQL_Q174 = f"""
WITH scored AS ({SQL_Q104}),
j AS (
  SELECT label AS y, p_good AS p, tau
  FROM scored CROSS JOIN (SELECT unnest([{_SWEEP_LIST}]) AS tau)),
agg AS (
  SELECT tau,
         sum(CASE WHEN p >= tau AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN p >= tau AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN p < tau AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
         sum(CASE WHEN p < tau AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
  FROM j GROUP BY tau),
pr AS (
  SELECT tau, tp, fp, fn, tn,
         {sql_rnd('tp / nullif(tp + fp, 0)', 6)} AS precision,
         {sql_rnd('tp / nullif(tp + fn, 0)', 6)} AS recall
  FROM agg)
SELECT tau, tp, fp, fn, tn, precision, recall,
       {sql_rnd('2 * precision * recall / nullif(precision + recall, 0)', 6)} AS f1
FROM pr
"""


def q175_split_leakage(spark, sf_dir):
    """Cross-split contamination audit: assign the deterministic X6
    hash split, fingerprint content (md5), and count exact-duplicate
    groups that SPAN split boundaries — the train/test leakage the
    whole dedup stack exists to prevent, measured directly at the
    split seam (n_contam = docs on the later split side whose exact
    content also appears on the earlier side). One content-hash
    groupBy (uniform 128-bit key — skew-free at any scale) + three
    scalar aggs over the group frame. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    return D.split_leakage(docs, "text", "doc_id", dict(SPLIT_WEIGHTS))


def _sql_split_pair(a: str, b: str) -> str:
    return f"""SELECT '{a}-{b}' AS pair,
       coalesce(sum(CASE WHEN n_{a} > 0 AND n_{b} > 0 THEN 1 END), 0)::BIGINT
         AS n_groups,
       coalesce(sum(CASE WHEN n_{a} > 0 AND n_{b} > 0 THEN n_{b} END), 0)::BIGINT
         AS n_contam
FROM g"""


SQL_Q175 = f"""
WITH s AS (
  SELECT md5(coalesce(text, '')) AS fp,
         ((((doc_id % 1000003) * 2654435761) % 100) + 100) % 100 AS bkt
  FROM documents),
sp AS (
  SELECT fp, CASE WHEN bkt < 80 THEN 'train'
                  WHEN bkt < 90 THEN 'val'
                  ELSE 'test' END AS split
  FROM s),
g AS (
  SELECT fp,
         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train,
         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val,
         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT AS n_test
  FROM sp GROUP BY fp)
{_sql_split_pair('train', 'val')}
UNION ALL
{_sql_split_pair('train', 'test')}
UNION ALL
{_sql_split_pair('val', 'test')}
"""


# --------------------------------------------------------------------
# r9 wave 5: UniMax allocation, Dirichlet QL retrieval, Fisher
# separation, winsorized robust stats
# --------------------------------------------------------------------

UNIMAX_BUDGET = 90_000
UNIMAX_EPOCHS = 4


def q176_unimax_allocation(spark, sf_dir):
    """UniMax epoch-capped budget allocation (functions/text.py:
    unimax_allocation; Chung et al. 2023): split the token budget as
    uniformly as possible across sources with no source repeated
    more than 4 epochs — the fairness-first alternative to q93's
    temperature shares and q152's Hamilton quotas, closing the
    mixture-policy family (proportional / temperature / quota /
    DoReMi / UniMax). Closed-form prefix-capped waterfilling over
    the |sources|-row inventory frame; the cap comparison is exact
    integer-valued-double arithmetic. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    inv = docs.groupBy("source").agg(
        F.sum(
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).cast("long").alias("n_tokens")
    )
    return TX.unimax_allocation(inv, "source", "n_tokens",
                                budget=UNIMAX_BUDGET,
                                max_epochs=UNIMAX_EPOCHS)


SQL_Q176 = f"""
WITH inv AS (
  SELECT source,
         sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source),
base AS (
  SELECT source, n_tokens,
         n_tokens::DOUBLE * {UNIMAX_EPOCHS} AS cap,
         row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS i,
         count(*) OVER () AS n
  FROM inv),
prefixed AS (
  SELECT *,
         coalesce(sum(cap) OVER (ORDER BY n_tokens ASC, source ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS pfx
  FROM base),
flagged AS (
  SELECT *,
         min(CASE WHEN cap * (n - i + 1) <= {UNIMAX_BUDGET} - pfx
                  THEN 1 ELSE 0 END)
           OVER (ORDER BY n_tokens ASC, source ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS capped
  FROM prefixed),
tot AS (
  SELECT *,
         coalesce(sum(CASE WHEN capped = 1 THEN cap END) OVER (), 0)
           AS tot_capped,
         (n - sum(capped) OVER ())::DOUBLE AS n_uncap
  FROM flagged),
alloc AS (
  SELECT source, n_tokens, capped,
         CASE WHEN capped = 1 THEN cap
              WHEN n_uncap > 0
                THEN ({UNIMAX_BUDGET} - tot_capped) / n_uncap
         END AS a
  FROM tot)
SELECT source, n_tokens,
       {sql_rnd('a', 4)} AS alloc_tokens,
       {sql_rnd('a / n_tokens', 6)} AS epochs,
       capped::BIGINT AS capped
FROM alloc
"""


def q177_ql_topk(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (functions/
    retrieval.py:ql_topk; Ponte & Croft 1998, Zhai & Lafferty 2001):
    the second classical lexical ranking model beside q124's BM25 —
    documents ranked by log p(query | doc's μ-smoothed unigram LM),
    same eval-split queries, same postings/broadcast-model/rank-window
    shape. The two models disagreeing on a doc is itself a curation
    signal (q150's audit pattern applies). Fully value-hash
    oracled."""
    return _retrieval_shared(spark, sf_dir, "ql")


def _sql_ql(champions: int | None = None) -> str:
    from .functions.retrieval import QL_MU

    mu = f"{QL_MU!r}"
    if champions is None:
        champ_cte = ""
        score_src = "postings"
    else:
        champ_cte = f"""
champs AS (
  SELECT w, doc, tf FROM (
    SELECT w, doc, tf,
           row_number() OVER (PARTITION BY w ORDER BY tf DESC, doc ASC)
             AS cr
    FROM postings) WHERE cr <= {champions}),"""
        score_src = "champs"
    return f"""
WITH docs0 AS (SELECT doc_id, text FROM documents),
qs AS (
  SELECT doc_id AS qid,
         (string_split_regex(lower(trim(text)), '\\s+'))[1:{QUERY_PREFIX_TOKENS}] AS qw
  FROM docs0 WHERE doc_id % 50 = 0),
qtf AS (
  SELECT qid, w, count(*)::DOUBLE AS qtf
  FROM (SELECT qid, unnest(qw) AS w FROM qs) GROUP BY qid, w),
words AS (
  SELECT doc_id AS doc, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM docs0 WHERE doc_id % 50 != 0),
tok AS (SELECT doc, unnest(w) AS w FROM words),
postings AS (SELECT w, doc, count(*)::DOUBLE AS tf FROM tok GROUP BY w, doc),{champ_cte}
doclen AS (SELECT doc, count(*)::DOUBLE AS dl FROM tok GROUP BY doc),
cf AS (SELECT w, sum(tf) AS cf FROM postings GROUP BY w),
ct AS (SELECT sum(dl) AS ct FROM doclen),
qmodel AS (
  SELECT q.qid, q.w, q.qtf, c.cf,
         {sql_rnd('ln(c.cf / t.ct)', 8)} AS lp_bg
  FROM qtf q JOIN cf c USING (w), ct t),
qagg AS (
  SELECT qid, sum(qtf) AS nq, {sql_rnd('sum(qtf * lp_bg)', 6)} AS cq
  FROM qmodel GROUP BY qid),
matched AS (
  SELECT m.qid, p.doc,
         {sql_rnd(f'sum(m.qtf * {sql_rnd(f"ln(1.0 + p.tf * t.ct / ({mu} * m.cf))", 8)})', 6)} AS msum,
         count(*)::BIGINT AS n_terms_hit
  FROM {score_src} p JOIN qmodel m USING (w), ct t
  GROUP BY m.qid, p.doc),
scored AS (
  SELECT s.qid, s.doc, s.n_terms_hit,
         {sql_rnd(f's.msum + a.nq * {sql_rnd(f"ln({mu} / (l.dl + {mu}))", 8)} + a.cq', 4)} AS score
  FROM matched s
  JOIN doclen l ON l.doc = s.doc
  JOIN qagg a ON a.qid = s.qid),
ranked AS (
  SELECT qid, doc, score, n_terms_hit,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc ASC)
           AS rnk
  FROM scored)
SELECT qid AS query_id, rnk::BIGINT AS "rank", doc AS doc_id, score,
       n_terms_hit
FROM ranked WHERE rnk <= {BM25_TOPK}
"""


SQL_Q177 = _sql_ql()


def q178_fisher_separation(spark, sf_dir):
    """Per-dimension Fisher discriminant ratio (functions/
    similarity.py:fisher_separation): between-class over within-class
    variance of every embedding coordinate against the stored labels
    — "are these labels separable in this space" audited before any
    probe training or label-conditioned sampling trusts them (the
    labeled-data sibling of q151's unsupervised silhouette). One N·D
    explode into an (L·D)-group combinable agg + a D-row broadcast.
    Fully value-hash oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.fisher_separation(emb, "label", "embedding")


SQL_Q178 = f"""
WITH ex AS (
  SELECT label AS lbl, unnest(range(0, len(embedding))) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
per_ld AS (
  SELECT lbl, d, count(*)::DOUBLE AS nl,
         {sql_rnd('avg(x)', 8)} AS ml,
         {sql_rnd('var_pop(x)', 8)} AS vl
  FROM ex GROUP BY lbl, d),
per_d AS (
  SELECT d, count(*)::DOUBLE AS n, {sql_rnd('avg(x)', 8)} AS m
  FROM ex GROUP BY d),
agg AS (
  SELECT p.d, count(*)::BIGINT AS n_classes,
         {sql_rnd('sum(nl * (ml - m) * (ml - m)) / any_value(n)', 8)}
           AS var_between,
         {sql_rnd('sum(nl * vl) / any_value(n)', 8)} AS var_within
  FROM per_ld p JOIN per_d USING (d) GROUP BY p.d)
SELECT d::BIGINT AS d, n_classes, var_between, var_within,
       {sql_rnd('var_between / nullif(var_within, 0)', 6)} AS fisher
FROM agg
"""


WINSOR_LO = 0.05
WINSOR_HI = 0.95


def q179_winsorized_stats(spark, sf_dir):
    """Winsorized per-series moments (operators/stats.py:
    winsorized_stats): clamp each event type's values at its exact
    p5/p95 (the O3 distributed-rank percentiles), then mean/stddev —
    the robust location/scale that keeps every row's vote while
    bounding any one row's leverage (beside q140's MAD, which
    discards shape; and q20's z-scores, which the tail itself
    corrupts). Two passes: skew-free percentile + one combinable
    clamped agg. Fully value-hash oracled."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return ST.winsorized_stats(ev, "value", ["event_type"],
                               lo=WINSOR_LO, hi=WINSOR_HI)


SQL_Q179 = f"""
WITH pct AS (
  SELECT event_type,
         {sql_rnd('quantile_cont(value, 0.05)', 4)} AS p5,
         {sql_rnd('quantile_cont(value, 0.95)', 4)} AS p95
  FROM events GROUP BY event_type),
j AS (
  SELECT e.event_type, e.value, p.p5, p.p95,
         least(greatest(e.value, p.p5), p.p95) AS xw
  FROM events e JOIN pct p USING (event_type))
SELECT event_type, count(*)::BIGINT AS n,
       min(p5) AS p5, max(p95) AS p95,
       {sql_rnd('avg(value)', 4)} AS raw_mean,
       {sql_rnd('avg(xw)', 4)} AS win_mean,
       {sql_rnd('stddev_pop(xw)', 4)} AS win_std
FROM j GROUP BY event_type
"""


# --------------------------------------------------------------------
# r9 wave 6: ranker agreement, k-anonymity, Benford audit
# --------------------------------------------------------------------


def q180_ranker_agreement(spark, sf_dir):
    """BM25 vs query-likelihood agreement audit: per eval query, how
    much the two classical lexical rankers (q124, q177) agree —
    top-k overlap share and whether they crown the same top-1. Low
    overlap marks queries whose retrieval is MODEL-dependent (length
    normalization is the usual culprit) — exactly the queries a
    decontamination sweep should hand to the semantic path (q108)
    instead of trusting either lexical list alone. Both inputs are
    |queries|·k RESULT frames, so the audit is corpus-cost-free
    beyond its already-audited parents (the q150 pattern). Fully
    value-hash oracled by nesting both chains."""
    bm = q124_bm25_topk(spark, sf_dir).select(
        "query_id", "rank", "doc_id")
    ql = q177_ql_topk(spark, sf_dir).select(
        "query_id", "rank", "doc_id")
    common = bm.join(ql, ["query_id", "doc_id"]).groupBy(
        "query_id").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    tops = (
        bm.where(F.col("rank") == 1)
        .select("query_id", F.col("doc_id").alias("bm_top"))
        .join(
            ql.where(F.col("rank") == 1)
            .select("query_id", F.col("doc_id").alias("ql_top")),
            "query_id",
        )
    )
    nbm = bm.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bm"))
    return (
        nbm.join(common, "query_id", "left")
        .join(tops, "query_id")
        .select(
            "query_id",
            "n_bm",
            F.coalesce("n_common", F.lit(0)).cast("long")
            .alias("n_common"),
            rnd(
                F.coalesce("n_common", F.lit(0)) / F.col("n_bm"), 4
            ).alias("overlap"),
            (F.col("bm_top") == F.col("ql_top")).cast("int")
            .cast("long").alias("top1_match"),
        )
    )


SQL_Q180 = f"""
WITH bm AS ({SQL_Q124}),
ql AS ({SQL_Q177}),
common AS (
  SELECT bm.query_id, count(*)::BIGINT AS n_common
  FROM bm JOIN ql ON bm.query_id = ql.query_id
                 AND bm.doc_id = ql.doc_id
  GROUP BY bm.query_id),
nbm AS (
  SELECT query_id, count(*)::BIGINT AS n_bm FROM bm GROUP BY query_id),
tops AS (
  SELECT b.query_id, b.doc_id AS bm_top, q.doc_id AS ql_top
  FROM bm b JOIN ql q ON b.query_id = q.query_id
  WHERE b."rank" = 1 AND q."rank" = 1)
SELECT n.query_id, n.n_bm,
       coalesce(c.n_common, 0)::BIGINT AS n_common,
       {sql_rnd('coalesce(c.n_common, 0) / n.n_bm', 4)} AS overlap,
       (t.bm_top = t.ql_top)::INT::BIGINT AS top1_match
FROM nbm n
LEFT JOIN common c ON c.query_id = n.query_id
JOIN tops t ON t.query_id = n.query_id
"""


KANON_K = 5


def q181_k_anonymity(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers (Sweeney 2002): group
    documents by the released quasi-identifier tuple (lang, source,
    length log₂-bin — the q169 bin) and count, per source, the
    equivalence classes smaller than k=5 and the documents inside
    them — rows whose metadata alone re-identifies them, the release
    audit run before a corpus datasheet ships per-doc metadata. One
    combinable (lang, source, bin) agg + one |groups|-frame rollup —
    group-count shaped, corpus-size independent output. Fully
    value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("lang", "source", "text")
    n = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    lb = F.when(n <= 0, F.lit(-1)).otherwise(
        F.floor(rnd(F.log2(n), 8)).cast("int")
    )
    g = docs.groupBy(
        "lang", "source", lb.alias("log2_bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("sz"))
    small = (F.col("sz") < KANON_K).cast("long")
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(small).cast("long").alias("n_small_groups"),
        F.sum(small * F.col("sz")).cast("long").alias("n_docs_at_risk"),
        F.min("sz").cast("long").alias("min_group"),
    )


SQL_Q181 = f"""
WITH g AS (
  SELECT lang, source,
         CASE WHEN length(coalesce(text, '')) <= 0 THEN -1
              ELSE floor({sql_rnd("ln(length(coalesce(text, ''))::DOUBLE) / ln(2.0)", 8)})::INTEGER
         END AS log2_bin,
         count(*)::BIGINT AS sz
  FROM documents GROUP BY lang, source, log2_bin)
SELECT source, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END)::BIGINT
         AS n_small_groups,
       sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END)::BIGINT
         AS n_docs_at_risk,
       min(sz)::BIGINT AS min_group
FROM g GROUP BY source
"""


# Benford expected shares log10(1 + 1/d), pre-rounded at 8 as shared
# literals so neither engine computes a log (d = 1..9)
BENFORD_EXP = (0.30103, 0.17609126, 0.12493874, 0.09691001,
               0.07918125, 0.06694679, 0.05799195, 0.05115252,
               0.04575749)


def q182_benford_audit(spark, sf_dir):
    """Benford first-significant-digit audit (Benford 1938; the
    fraud/synthetic-data screen of Nigrini 1996) over the event
    values: per (event_type, digit), the observed first-digit share
    vs the Benford expectation and its χ² contribution — machine-
    generated or truncated value columns jump out as flat or spiked
    digit profiles. The digit is extracted from the value in integer
    cents cast to a string (int→string is engine-stable; double
    formatting is not), expected shares are shared pre-rounded
    literals, so parity holds with no cross-engine log. One codegen
    map + one 45-group combinable agg. Fully value-hash oracled."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    cents = F.round(F.col("value") * 100).cast("long")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    # gate on cents >= 1, not value > 0: values in (0, 0.005) round
    # to cents=0, whose "digit" 0 has no Benford expectation — they
    # must be excluded, not emitted as a NULL-exp_share junk row
    pos = ev.where(cents >= 1).select(
        "event_type", d.alias("digit")
    )
    cnt = pos.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    tot = pos.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_tot")
    )
    exp_map = F.map_from_arrays(
        F.array(*[F.lit(i + 1) for i in range(9)]),
        F.array(*[F.lit(v) for v in BENFORD_EXP]),
    )
    j = cnt.join(tot, "event_type").withColumn(
        "exp_share", F.element_at(exp_map, F.col("digit"))
    )
    obs = rnd(F.col("n_obs") / F.col("n_tot"), 6)
    chi = rnd(
        (obs - F.col("exp_share")) * (obs - F.col("exp_share"))
        / F.col("exp_share") * F.col("n_tot"),
        4,
    )
    return j.select(
        "event_type",
        F.col("digit").cast("long").alias("digit"),
        "n_obs",
        obs.alias("obs_share"),
        F.col("exp_share"),
        chi.alias("chi2_term"),
    )


_BENFORD_CASE = " ".join(
    f"WHEN {i + 1} THEN {v!r}" for i, v in enumerate(BENFORD_EXP)
)

SQL_Q182 = f"""
WITH pos AS (
  SELECT event_type,
         substr(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)::INTEGER
           AS digit
  FROM events WHERE CAST(round(value * 100, 0) AS BIGINT) >= 1),
cnt AS (
  SELECT event_type, digit, count(*)::BIGINT AS n_obs
  FROM pos GROUP BY event_type, digit),
tot AS (
  SELECT event_type, count(*)::BIGINT AS n_tot
  FROM pos GROUP BY event_type),
j AS (
  SELECT c.event_type, c.digit, c.n_obs, t.n_tot,
         CASE c.digit {_BENFORD_CASE} END AS exp_share,
         {sql_rnd('c.n_obs / t.n_tot', 6)} AS obs_share
  FROM cnt c JOIN tot t USING (event_type))
SELECT event_type, digit::BIGINT AS digit, n_obs, obs_share, exp_share,
       {sql_rnd('(obs_share - exp_share) * (obs_share - exp_share) / exp_share * n_tot', 4)}
         AS chi2_term
FROM j
"""


# --------------------------------------------------------------------
# r9 wave 7: bucketed interval join, hapax density
# --------------------------------------------------------------------

BURST_BUCKET_SECONDS = 3600
BURST_MIN_COUNT = 4


def q183_incident_overlap(spark, sf_dir):
    """Incident-impact analysis via the bucketed interval join
    (operators/timeseries.py:interval_join + burst_intervals): build
    error-burst windows (hot hours merged by gaps-and-islands over
    the BUCKET frame — time-bounded, never event-bounded), then join
    every purchase event that falls inside a burst — "what did the
    incident cost us". The join is the canonical Spark range-join
    rewrite: intervals explode into the hour buckets they cover and
    the match is an EQUI-join + exact refinement, where a naive
    BETWEEN join plans BroadcastNestedLoopJoin (the O(N·M) cliff).
    Per-burst purchase counts and value. Fully value-hash oracled."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("ts")
    bursts = TS.burst_intervals(errors, "ts",
                                bucket_seconds=BURST_BUCKET_SECONDS,
                                min_count=BURST_MIN_COUNT)
    buys = ev.where(F.col("event_type") == "purchase").select(
        "ts", "value")
    j = TS.interval_join(buys, bursts, "ts", "burst_start", "burst_end",
                         bucket_seconds=BURST_BUCKET_SECONDS)
    return j.groupBy("burst_start", "burst_end", "n_events").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        rnd(F.sum("value"), 2).alias("purchase_value"),
    )


SQL_Q183 = f"""
WITH errors AS (
  SELECT ts FROM events WHERE event_type = 'error'),
hot AS (
  SELECT floor(floor(epoch(ts)) / {BURST_BUCKET_SECONDS})::BIGINT AS bkt,
         count(*)::BIGINT AS cnt,
         min(ts) AS first_ts, max(ts) AS last_ts
  FROM errors GROUP BY bkt
  HAVING count(*) >= {BURST_MIN_COUNT}),
isl AS (
  SELECT *, bkt - row_number() OVER (ORDER BY bkt) AS grp FROM hot),
bursts AS (
  SELECT min(first_ts) AS burst_start, max(last_ts) AS burst_end,
         sum(cnt)::BIGINT AS n_events
  FROM isl GROUP BY grp),
buys AS (
  SELECT ts, value FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT b.burst_start, b.burst_end, b.n_events, p.value
  FROM buys p JOIN bursts b
    ON p.ts >= b.burst_start AND p.ts <= b.burst_end)
SELECT burst_start, burst_end, n_events,
       count(*)::BIGINT AS n_purchases,
       {sql_rnd('sum(value)', 2)} AS purchase_value
FROM j GROUP BY burst_start, burst_end, n_events
"""


def q184_hapax_density(spark, sf_dir):
    """Hapax-legomena density (functions/text.py:hapax_density): per
    document, the share of token occurrences whose corpus frequency
    is exactly 1 — OCR garbage / random-identifier text maxes it,
    boilerplate zeroes it; the lexical-novelty signal between q38's
    surface ratios and q84's LM perplexity, and the singleton-tail
    complement of q110's top-V coverage. One token-keyed count
    shuffle + join-back (the q84 shape). Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    return TX.hapax_density(docs, "text", "doc_id")


SQL_Q184 = f"""
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
cnts AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
agg AS (
  SELECT doc, count(*)::BIGINT AS n_tokens,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
  FROM toks JOIN cnts USING (w) GROUP BY doc)
SELECT doc AS doc_id, n_tokens, n_hapax,
       {sql_rnd('n_hapax / n_tokens', 4)} AS hapax_share
FROM agg
"""


# --------------------------------------------------------------------
# r9 wave 8: source vocabulary overlap, length-distribution EMD
# --------------------------------------------------------------------


def q185_vocab_overlap(spark, sf_dir):
    """Pairwise source vocabulary-overlap matrix: exact Jaccard of
    the token-TYPE sets of every source pair — the lexical
    similarity structure a mixture designer reads before weighting
    ("src3 and src7 are near-duplicates of each other's vocabulary;
    don't double-count them"), complementing q114's distributional JS
    divergence (which weighs frequencies; this weighs coverage).

    Shape at scale: distinct (source, token) pairs (one shuffle on
    the token key), then a token-keyed self-join whose per-token
    fan-out is bounded by |sources sharing that token|² ≤ |sources|²
    — sources are dozens-to-hundreds by contract, so candidate work
    per token is a constant, never corpus-sized. Zero-overlap pairs
    are kept via the |sources|²-row pair grid (model frame). Fully
    value-hash oracled."""
    docs = _t(spark, sf_dir, "documents")
    # persisted: the distinct (source, token) frame feeds the size agg
    # AND both self-join sides — one corpus scan, not three (released
    # via the _cached_inputs contract)
    sv = fan_out(docs).select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("w"),
    ).distinct().persist()
    vs = sv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v"))
    a = sv.select(F.col("source").alias("src_a"), "w")
    b = sv.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    va = vs.select(F.col("source").alias("src_a"), F.col("v").alias("v_a"))
    vb = vs.select(F.col("source").alias("src_b"), F.col("v").alias("v_b"))
    grid = va.crossJoin(vb).where(F.col("src_a") < F.col("src_b"))
    j = grid.join(inter, ["src_a", "src_b"], "left").select(
        "src_a", "src_b", "v_a", "v_b",
        F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
    )
    out = j.select(
        "*",
        rnd(
            F.col("inter")
            / (F.col("v_a") + F.col("v_b") - F.col("inter")),
            6,
        ).alias("jaccard"),
    )
    out._cached_inputs = [sv]  # see functions.dedup.release
    return out


SQL_Q185 = f"""
WITH sv AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
vs AS (SELECT source, count(*)::BIGINT AS v FROM sv GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS inter
  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
  GROUP BY a.source, b.source),
grid AS (
  SELECT a.source AS src_a, b.source AS src_b,
         a.v AS v_a, b.v AS v_b
  FROM vs a JOIN vs b ON a.source < b.source)
SELECT g.src_a, g.src_b, g.v_a, g.v_b,
       coalesce(i.inter, 0)::BIGINT AS inter,
       {sql_rnd('coalesce(i.inter, 0) / (g.v_a + g.v_b - coalesce(i.inter, 0))', 6)}
         AS jaccard
FROM grid g
LEFT JOIN inter i ON i.src_a = g.src_a AND i.src_b = g.src_b
"""


def q186_length_emd(spark, sf_dir):
    """Pairwise 1-D Wasserstein (earth mover's) distance between
    source length distributions: W₁ = Σᵢ |F_a(vᵢ) − F_b(vᵢ)|·Δvᵢ
    over the global distinct-length grid — the transport-cost answer
    to "how differently shaped are these sources' documents" that
    q160's KS statistic (a supremum) flattens to one point. In
    characters, so W₁ reads as "average characters you'd have to move
    per document to reshape a into b".

    Every window here runs over VALUE-DOMAIN-bounded frames (the q160
    argument): the grid is the distinct lengths (V rows), the ECDF
    frame is |sources|·V, the pair frame |pairs|·V — none scale with
    corpus rows; the only corpus-sized pass is one (source, length)
    count agg. ECDF shares pre-round at 8, W₁ at 4. Fully value-hash
    oracled."""
    docs = _t(spark, sf_dir, "documents")
    x = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    # persisted: the (source, length) count frame (group-count sized —
    # |sources|·|distinct lengths| rows at ANY corpus size) feeds the
    # grid, source list, totals, and ECDF — one corpus scan, not four
    cnts = docs.select("source", x.alias("x")).groupBy(
        "source", "x").agg(F.count(F.lit(1)).cast("long").alias("c")) \
        .persist()
    grid = cnts.select("x").distinct()
    wv = Window.partitionBy().orderBy("x")
    grid_d = grid.select(
        "x",
        (F.coalesce(F.lead("x").over(wv), F.col("x")) - F.col("x"))
        .cast("double").alias("dx"),
    )
    srcs = cnts.select("source").distinct()
    tot = cnts.groupBy("source").agg(
        F.sum("c").cast("double").alias("n"))
    sx = srcs.crossJoin(grid).join(cnts, ["source", "x"], "left").select(
        "source", "x", F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    wc = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0)
    ecdf = (
        sx.withColumn("cum", F.sum("c").over(wc))
        .join(tot, "source")
        .select("source", "x", rnd(F.col("cum") / F.col("n"), 8)
                .alias("f"))
    )
    a = ecdf.select(F.col("source").alias("src_a"), "x",
                    F.col("f").alias("fa"))
    b = ecdf.select(F.col("source").alias("src_b"), "x",
                    F.col("f").alias("fb"))
    pairs = (
        a.join(b, "x")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(grid_d), "x")
    )
    out = pairs.groupBy("src_a", "src_b").agg(
        rnd(F.sum(F.abs(F.col("fa") - F.col("fb")) * F.col("dx")), 4)
        .alias("w1_chars")
    )
    out._cached_inputs = [cnts]  # see functions.dedup.release
    return out


SQL_Q186 = f"""
WITH cnts AS (
  SELECT source, length(coalesce(text, ''))::BIGINT AS x,
         count(*)::BIGINT AS c
  FROM documents GROUP BY source, x),
grid AS (SELECT DISTINCT x FROM cnts),
grid_d AS (
  SELECT x,
         (coalesce(lead(x) OVER (ORDER BY x), x) - x)::DOUBLE AS dx
  FROM grid),
srcs AS (SELECT DISTINCT source FROM cnts),
tot AS (SELECT source, sum(c)::DOUBLE AS n FROM cnts GROUP BY source),
sx AS (
  SELECT s.source, g.x, coalesce(c.c, 0)::BIGINT AS c
  FROM srcs s CROSS JOIN grid g
  LEFT JOIN cnts c ON c.source = s.source AND c.x = g.x),
ecdf AS (
  SELECT sx.source, sx.x,
         {sql_rnd('sum(sx.c) OVER (PARTITION BY sx.source ORDER BY sx.x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t.n', 8)} AS f
  FROM sx JOIN tot t ON t.source = sx.source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.x,
         abs(a.f - b.f) AS d, gd.dx
  FROM ecdf a
  JOIN ecdf b ON a.x = b.x AND a.source < b.source
  JOIN grid_d gd ON gd.x = a.x)
SELECT src_a, src_b, {sql_rnd('sum(d * dx)', 4)} AS w1_chars
FROM pairs GROUP BY src_a, src_b
"""


def q187_norm_dedup_lift(spark, sf_dir):
    """Normalization dedup-lift audit: how many MORE documents become
    exact-duplicate-deduplicable when content is aggressively
    normalized (lowercase, collapse every non-alphanumeric run to one
    space, trim) before hashing — the measurement behind the
    "normalize before MinHash" decision every dedup pipeline makes
    (CCNet normalizes; some pipelines skip it to preserve code). One
    row: raw vs normalized duplicate groups / docs and the lift.
    Two content-hash groupBys (uniform 128-bit keys — skew-free) +
    two scalar rollups. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select(
        F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("t")), "[^a-z0-9]+", " ")
    )

    def dup_stats(key, gname, dname):
        g = docs.groupBy(key.alias("fp")).agg(
            F.count(F.lit(1)).cast("long").alias("sz"))
        return g.agg(
            F.coalesce(
                F.sum((F.col("sz") >= 2).cast("long")), F.lit(0)
            ).cast("long").alias(gname),
            F.coalesce(
                F.sum(F.when(F.col("sz") >= 2, F.col("sz"))), F.lit(0)
            ).cast("long").alias(dname),
        )

    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    raw = dup_stats(F.md5(F.col("t")), "raw_groups", "raw_dup_docs")
    nrm = dup_stats(F.md5(norm), "norm_groups", "norm_dup_docs")
    return (
        n.crossJoin(raw).crossJoin(nrm)
        .select(
            "n_docs", "raw_groups", "raw_dup_docs",
            "norm_groups", "norm_dup_docs",
            (F.col("norm_dup_docs") - F.col("raw_dup_docs"))
            .cast("long").alias("lift_docs"),
        )
    )


SQL_Q187 = """
WITH d AS (SELECT coalesce(text, '') AS t FROM documents),
raw AS (
  SELECT coalesce(sum(CASE WHEN sz >= 2 THEN 1 END), 0)::BIGINT
           AS raw_groups,
         coalesce(sum(CASE WHEN sz >= 2 THEN sz END), 0)::BIGINT
           AS raw_dup_docs
  FROM (SELECT md5(t) AS fp, count(*)::BIGINT AS sz FROM d GROUP BY fp)),
nrm AS (
  SELECT coalesce(sum(CASE WHEN sz >= 2 THEN 1 END), 0)::BIGINT
           AS norm_groups,
         coalesce(sum(CASE WHEN sz >= 2 THEN sz END), 0)::BIGINT
           AS norm_dup_docs
  FROM (SELECT md5(trim(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g')))
               AS fp, count(*)::BIGINT AS sz
        FROM d GROUP BY fp)),
n AS (SELECT count(*)::BIGINT AS n_docs FROM d)
SELECT n_docs, raw_groups, raw_dup_docs, norm_groups, norm_dup_docs,
       (norm_dup_docs - raw_dup_docs)::BIGINT AS lift_docs
FROM n, raw, nrm
"""


def q188_ql_champions(spark, sf_dir):
    """Champion-list query likelihood (functions/retrieval.py:ql_topk
    champions=; IIR §7.1.3 applied to the Dirichlet LM ranker) —
    q177's scale path, exactly as q131 is q124's: only the 64
    highest-tf postings per term are scored (the matched-term
    contribution is increasing in tf, so these ARE the highest-impact
    ones), bounding per-query work at |terms|·64 regardless of term
    hotness; the collection model (cf, |C|, dl) stays exact. The
    exact build reads 78 s at sf1 where the champion cut reads ~4 s
    (docs/SCALING.md) — this is the 100 TB route. Fully value-hash
    oracled."""
    from .functions import retrieval as RV

    corpus, qs = _eval_split_queries(spark, sf_dir)
    return RV.ql_topk(corpus, qs, "text", "doc_id", k=BM25_TOPK,
                      champions=BM25_CHAMPIONS,
                      postings=_postings_shared(spark, sf_dir))


SQL_Q188 = _sql_ql(champions=BM25_CHAMPIONS)


def q189_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster size histogram: log₂-binned distribution of
    near-dup family sizes from the q68 connected components — the
    "are my duplicates pairs or thousand-member template families"
    number a datasheet reports and a dedup-capacity planner sizes
    buckets by (a fat tail here is exactly where the max_df hot-band
    caps earn their keep). Composes the memoized cluster map with one
    |clusters|-frame agg — corpus-cost-free beyond its audited
    parent. Fully value-hash oracled."""
    clusters = _dup_clusters_shared(spark, sf_dir)
    sizes = clusters.groupBy("rep").agg(
        F.count(F.lit(1)).cast("double").alias("sz"))
    lb = F.floor(rnd(F.log2(F.col("sz")), 8)).cast("long")
    return sizes.groupBy(lb.alias("log2_bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("sz").cast("long")).cast("long").alias("n_docs"),
        F.min(F.col("sz").cast("long")).cast("long").alias("min_sz"),
        F.max(F.col("sz").cast("long")).cast("long").alias("max_sz"),
    )


SQL_Q189 = f"""
WITH RECURSIVE corpus AS ({SQL_PLANTED}),
{_SQL_JAC_PAIRS},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(doc, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT w.doc, e.d FROM reach w JOIN edges e ON e.s = w.r),
clusters AS (
  SELECT doc AS doc_id, min(r) AS rep FROM reach GROUP BY doc),
csz AS (
  SELECT rep, count(*)::DOUBLE AS sz FROM clusters GROUP BY rep)
SELECT floor({sql_rnd('ln(sz) / ln(2.0)', 8)})::BIGINT AS log2_bin,
       count(*)::BIGINT AS n_clusters,
       sum(sz::BIGINT)::BIGINT AS n_docs,
       min(sz::BIGINT)::BIGINT AS min_sz,
       max(sz::BIGINT)::BIGINT AS max_sz
FROM csz GROUP BY log2_bin
"""


# --------------------------------------------------------------------
# r10 wave 1: URL/domain-level curation (RefinedWeb §3.1's first
# stage — the operators that run BEFORE any text op at 100 TB)
# --------------------------------------------------------------------

def _synth_url_expr():
    """Deterministic messy-URL column derived from (doc_id, source) —
    the documents table has no URL column, so the gate synthesizes
    one IN BOTH ENGINES from the same integer arithmetic, covering
    every canonicalization rule: mixed-case schemes/hosts, default
    and non-default ports, ``www.`` prefixes, ``//`` runs, trailing
    slashes, empty paths, tracking params, unsorted params, and
    fragments."""
    m = lambda k: F.col("doc_id") % k  # noqa: E731 — doc_id ≥ 0, both engines' % agree
    did = F.col("doc_id").cast("string")
    scheme = (
        F.when(m(3) == 0, F.lit("HTTP"))
        .when(m(3) == 1, F.lit("https"))
        .otherwise(F.lit("HTTPS"))
    )
    # source = src(doc_id % 20) and %20 refines %4, so each source
    # still maps to exactly ONE domain. The %20==13/19 carve-outs
    # (r12) route one source through a PSL wildcard TLD (*.ck → the
    # registrable domain keeps THREE labels) and one through com.au —
    # the rules the pre-PSL heuristic got wrong / only half-covered.
    host = (
        F.when(m(4) == 0, F.concat(F.lit("WWW."), F.col("source"), F.lit(".COM")))
        .when(m(20) == 13, F.concat(F.lit("shop."), F.col("source"), F.lit(".ck")))
        .when(m(4) == 1, F.concat(F.lit("cdn."), F.col("source"), F.lit(".net:443")))
        .when(m(4) == 2, F.concat(F.lit("www."), F.col("source"), F.lit(".co.uk:80")))
        .when(m(20) == 19, F.concat(F.lit("M."), F.col("source"), F.lit(".COM.AU")))
        .otherwise(F.concat(F.lit("blog."), F.col("source"), F.lit(".Org")))
    )
    path = (
        F.when(m(5) == 0, F.concat(F.lit("/docs//"), did, F.lit("/")))
        .when(m(5) == 1, F.concat(F.lit("/docs/"), did))
        .when(m(5) == 2, F.lit(""))
        .when(m(5) == 3, F.concat(F.lit("//p//"), did, F.lit("//")))
        .otherwise(F.concat(F.lit("/x/"), did))
    )
    qm7 = (F.col("doc_id") % 7).cast("string")
    query = (
        F.when(m(6) == 0, F.concat(F.lit("?utm_source=tw&id="), qm7))
        .when(m(6) == 1, F.concat(F.lit("?id="), qm7, F.lit("&utm_campaign=x&gclid=abc")))
        .when(m(6) == 2, F.lit("?b=2&a=1"))
        .when(m(6) == 3, F.lit("?ref=hp"))
        .when(m(6) == 4, F.lit(""))
        .otherwise(F.lit("?fbclid=z&z=9"))
    )
    frag = F.when(m(2) == 0, F.concat(F.lit("#sec"), (F.col("doc_id") % 5).cast("string"))).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, query, frag)


def _refetch_url_expr(url_col, frag: str):
    """Scheme-PRESERVING re-fetch noise for the q197/q201/q202
    plants: lowercase the ORIGINAL scheme (case is canonicalization-
    invariant, rule 2) and append a fragment (stripped by rule 1) —
    so every re-fetch collapses to its original's canonical form
    regardless of the original's scheme/port combination. The r10
    plants hardcoded ``HTTPS://``, which silently broke the collapse
    for http-scheme docs (scheme differs; an http host ending
    ``:443`` also keeps its port) — ADVICE r10 fix, gated by
    tests/test_wave13.py::test_refetch_plants_fully_collapse."""
    return F.concat(
        F.lower(F.regexp_extract(url_col, r"^([A-Za-z]+)://", 1)),
        F.lit("://"),
        F.regexp_replace(url_col, r"^[A-Za-z]+://", ""),
        F.lit("#" + frag),
    )


def _sql_refetch_url(frag: str) -> str:
    """DuckDB twin of :func:`_refetch_url_expr` (over a column named
    ``url``)."""
    return (
        "lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' || "
        "regexp_replace(url, '^[A-Za-z]+://', '') || '#" + frag + "'"
    )


# the same synthesis in DuckDB (CAST/CASE chains mirror the Spark
# whens 1:1; doc_id ≥ 0, so % agrees between engines)
_SQL_SYNTH_URL = """
  SELECT doc_id, lang, source, text,
         (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HTTPS' END)
         || '://'
         || (CASE
               WHEN doc_id % 4 = 0 THEN 'WWW.' || source || '.COM'
               WHEN doc_id % 20 = 13 THEN 'shop.' || source || '.ck'
               WHEN doc_id % 4 = 1 THEN 'cdn.' || source || '.net:443'
               WHEN doc_id % 4 = 2 THEN 'www.' || source || '.co.uk:80'
               WHEN doc_id % 20 = 19 THEN 'M.' || source || '.COM.AU'
               ELSE 'blog.' || source || '.Org' END)
         || (CASE doc_id % 5
               WHEN 0 THEN '/docs//' || CAST(doc_id AS VARCHAR) || '/'
               WHEN 1 THEN '/docs/' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN ''
               WHEN 3 THEN '//p//' || CAST(doc_id AS VARCHAR) || '//'
               ELSE '/x/' || CAST(doc_id AS VARCHAR) END)
         || (CASE doc_id % 6
               WHEN 0 THEN '?utm_source=tw&id=' || CAST(doc_id % 7 AS VARCHAR)
               WHEN 1 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x&gclid=abc'
               WHEN 2 THEN '?b=2&a=1'
               WHEN 3 THEN '?ref=hp'
               WHEN 4 THEN ''
               ELSE '?fbclid=z&z=9' END)
         || (CASE doc_id % 2 WHEN 0 THEN '#sec' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END)
           AS url
  FROM documents
"""

# DuckDB replay of functions/web.py's canonical chain, as reusable
# CTE text (expects a CTE named ``urls`` with (doc_id, url, ...)).
# regexp_replace carries the 'g' flag ONLY where Spark replaces more
# than one match (the //-collapse); anchored rules match at most once.
_SQL_CANON_CTES = rf"""
u1 AS (
  SELECT *, regexp_replace(trim(url), '#.*$', '') AS nofrag,
         lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch
  FROM urls),
u2 AS (
  SELECT *, regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u1),
u3 AS (
  SELECT *, lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hp,
         regexp_replace(rest, '^[^/?]+', '') AS tail
  FROM u2),
u4 AS (
  SELECT *, regexp_replace(
           CASE WHEN sch = 'http'  THEN regexp_replace(hp, ':80$', '')
                WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
                ELSE hp END, '^www\.', '') AS host
  FROM u3),
u5 AS (
  SELECT *, regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/{{2,}}', '/', 'g') AS coll,
         coalesce(array_to_string(list_sort(list_filter(
           string_split(regexp_extract(tail, '\?(.*)$', 1), '&'),
           x -> x <> '' AND NOT regexp_matches(x, '{W.TRACKING_PARAM_RE}'))), '&'), '') AS qc
  FROM u4),
u6 AS (
  SELECT *, CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path FROM (
    SELECT *, CASE WHEN length(coll) > 1 AND coll LIKE '%/'
                   THEN substr(coll, 1, length(coll) - 1) ELSE coll END AS p0
    FROM u5)),
canon AS (
  SELECT *, CASE WHEN sch = '' THEN lower(trim(url))
                 ELSE sch || '://' || host || path ||
                      CASE WHEN qc = '' THEN '' ELSE '?' || qc END END AS canon_url,
         regexp_replace(host, ':[0-9]+$', '') AS bare_host
  FROM u6),
psl AS (
  SELECT suffix, labels, kind
  FROM read_csv('{_DATA_DIR}/public_suffix_list.tsv', delim='\t',
                header=true, quote='')),
doms AS (
  SELECT *, regexp_extract(bare_host, '([^.]+)$', 1) AS _s1,
         regexp_extract(bare_host, '([^.]+\.[^.]+)$', 1) AS _s2,
         regexp_extract(bare_host, '([^.]+\.[^.]+\.[^.]+)$', 1) AS _s3,
         regexp_extract(bare_host, '([^.]+\.[^.]+\.[^.]+\.[^.]+)$', 1) AS _s4
  FROM canon),
dom AS (
  SELECT *, CASE
    WHEN _s3 IN (SELECT suffix FROM psl WHERE kind = 'exception' AND labels = 3)
    THEN _s3
    WHEN _s2 IN (SELECT suffix FROM psl WHERE kind = 'exception' AND labels = 2)
    THEN _s2
    WHEN _s3 IN (SELECT suffix FROM psl WHERE kind = 'exact' AND labels = 3)
      OR _s2 IN (SELECT suffix FROM psl WHERE kind = 'wildcard' AND labels = 2)
    THEN CASE WHEN _s4 <> '' THEN _s4 ELSE bare_host END
    WHEN _s2 IN (SELECT suffix FROM psl WHERE kind = 'exact' AND labels = 2)
      OR _s1 IN (SELECT suffix FROM psl WHERE kind = 'wildcard' AND labels = 1)
    THEN CASE WHEN _s3 <> '' THEN _s3 ELSE bare_host END
    ELSE CASE WHEN _s2 <> '' THEN _s2 ELSE bare_host END END AS domain
  FROM doms)
"""


def q190_url_canonicalize(spark, sf_dir):
    """URL canonicalization (functions/web.py — RefinedWeb §3.1's
    URL-level stage; the exact-dedup key of every crawl pipeline):
    scheme/host lowercasing, default-port + www strip, //-collapse,
    trailing-slash and fragment drop, tracking-param removal with
    param sorting, and public-suffix-lite registrable-domain
    extraction — all pure codegen regexp/array expressions (zero
    UDF, zero shuffle: runs at scan speed on 100 TB of crawl
    metadata). The gate synthesizes a deterministic messy URL per
    document IN BOTH ENGINES (no URL column in the testdata), so
    every rule's output is value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    urls = docs.withColumn("url", _synth_url_expr())
    host = W.url_host(F.col("url"))
    canon = urls.select(
        "doc_id",
        "url",
        W.canonical_url(F.col("url")).alias("canon_url"),
        host.alias("host"),
    )
    return W.attach_registrable_domain(
        canon, F.regexp_replace(F.col("host"), r":[0-9]+$", ""))


SQL_Q190 = f"""
WITH urls AS ({_SQL_SYNTH_URL}),
{_SQL_CANON_CTES}
SELECT doc_id, url, canon_url, host, domain FROM dom
"""


# domain blocklist for the rollup gate (one per TLD family so the
# anti-join path is live); a real pipeline broadcast-joins a list of
# millions — same plan shape
# source = src(doc_id % 20) and the host TLD branches on doc_id % 4,
# so each source maps to exactly ONE domain: srcN.com for N%4=0,
# srcN.net for N%4=1, srcN.co.uk for N%4=2, srcN.org for N%4=3 —
# the list below names domains that EXIST so the drop path is live
BLOCKED_DOMAINS = ("src0.com", "src5.net", "src6.co.uk", "src3.org")


def q191_domain_rollup(spark, sf_dir):
    """Host/domain-level rollup + blocklist gating (RefinedWeb §3.1,
    C4's domain filters): per registrable domain — document count,
    token mass, distinct hosts/langs, and the keep/drop verdict from
    a broadcast blocklist anti-pattern (flag, not filter, so the
    audit sees BOTH sides). This is the table a curator reads to
    decide domain-level sampling weights before any text op runs;
    one URL-synth + canon map stage and ONE domain-keyed combinable
    agg — group-count shaped output, corpus-size independent."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text")
    urls = docs.withColumn("url", _synth_url_expr())
    host = W.url_host(F.col("url"))
    enr = W.attach_registrable_domain(
        urls.select("doc_id", "lang", "text", host.alias("host")),
        F.regexp_replace(F.col("host"), r":[0-9]+$", ""),
    )
    blocked = spark.createDataFrame(
        [(d,) for d in BLOCKED_DOMAINS], "domain string")
    flagged = enr.join(
        F.broadcast(blocked.withColumn("_blk", F.lit(1))), "domain", "left")
    toks = F.size(F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"))
    return (
        flagged.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(toks).cast("long").alias("n_tokens"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.max(F.coalesce(F.col("_blk"), F.lit(0))).cast("long")
            .alias("blocked"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("blocked") == 1, F.lit("drop")).otherwise(F.lit("keep")),
        )
    )


_SQL_BLOCKED = " UNION ALL ".join(
    f"SELECT '{d}' AS bdom" for d in BLOCKED_DOMAINS
)

SQL_Q191 = f"""
WITH urls AS ({_SQL_SYNTH_URL}),
{_SQL_CANON_CTES},
blk AS ({_SQL_BLOCKED}),
flagged AS (
  SELECT d.domain, d.host, d.lang, d.text,
         CASE WHEN b.bdom IS NULL THEN 0 ELSE 1 END AS _blk
  FROM dom d LEFT JOIN blk b ON b.bdom = d.domain)
SELECT domain, count(*)::BIGINT AS n_docs,
       sum(len(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+')))::BIGINT
         AS n_tokens,
       count(DISTINCT host)::BIGINT AS n_hosts,
       count(DISTINCT lang)::BIGINT AS n_langs,
       max(_blk)::BIGINT AS blocked,
       CASE WHEN max(_blk) = 1 THEN 'drop' ELSE 'keep' END AS verdict
FROM flagged GROUP BY domain
"""


# --------------------------------------------------------------------
# r10 wave 2: paragraph-granularity MinHash near-dup
# --------------------------------------------------------------------

PNDP_EVERY = 97          # plant boilerplate on every 97th document
PNDP_HASHES = 16
PNDP_BANDS = 8
PNDP_MAX_DF = 60         # two-sided hot-band cap (template passages)
PNDP_TAU = 0.5
# 13 words: the first 8 fill one pure-boilerplate passage when the
# plant is passage-aligned; the last 5 + the per-doc variant token
# form a 6-word tail passage whose cross-variant pairs land MID-range
# (the paraphrase signal — one swapped word, est < 1)
PNDP_BOILER = ("please subscribe to the daily digest newsletter "
               "and follow the channel every day")


def _pndp_corpus(spark, sf_dir):
    """documents ∪ passage-ALIGNED boilerplate plants: every
    ``PNDP_EVERY``-th doc contributes a shifted twin made of its own
    first 8 or 16 words (so plant passages line up with passage
    boundaries) + the shared boilerplate + a ``v<doc_id mod 3>``
    variant token. Cross-doc same-variant tails are exact passage
    dups; cross-VARIANT tails are paraphrases (one word swapped)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    head = F.when(
        F.col("doc_id") % 2 == 0, F.slice(w, 1, 8)
    ).otherwise(F.slice(w, 1, 16))
    planted = docs.where(F.col("doc_id") % PNDP_EVERY == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", head),
            F.lit(" " + PNDP_BOILER + " v"),
            (F.col("doc_id") % 3).cast("string"),
        ).alias("text"),
    )
    return docs.unionByName(planted)


SQL_PNDP_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {{plant_offset}} AS doc_id,
         array_to_string(CASE WHEN doc_id % 2 = 0 THEN w[1:8]
                              ELSE w[1:16] END, ' ')
         || ' {PNDP_BOILER} v' || CAST(doc_id % 3 AS VARCHAR) AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % {PNDP_EVERY} = 0)
"""


def q192_passage_near_dups(spark, sf_dir):
    """Paragraph-granularity MinHash near-dup (functions/dedup.py:
    passage_near_dup_pairs — Dolma/RefinedWeb run SUB-document fuzzy
    dedup; q94 is sub-doc exact, q31 is doc-level fuzzy, this closes
    the quadrant): passages are the dedup unit, signed with the
    portable md5+affine family (16 hashes, 8 string-keyed bands) and
    the standard two-sided max_df hot-band cap. The planted gate:
    same-variant boilerplate tails are exact passage dups (est 1.0),
    cross-variant tails — one swapped word — land mid-range, which is
    exactly what exact-hash passage dedup cannot see. Fully
    value-hash oracled (signatures, band keys, est all replay)."""
    corpus = _pndp_corpus(spark, sf_dir)
    return D.passage_near_dup_pairs(
        corpus, "text", "doc_id", passage_words=PASSAGE_WORDS,
        shingle_n=3, num_hashes=PNDP_HASHES, bands=PNDP_BANDS,
        threshold=PNDP_TAU, max_df=PNDP_MAX_DF,
    )


def _sql_passage_near_pairs() -> str:
    """DuckDB replay of the passage-level portable MinHash banding:
    q94's passage split + q31's md5+affine mins, keyed by (doc, idx)
    instead of doc."""
    params = D.affine_params(PNDP_HASHES)
    rows = PNDP_HASHES // PNDP_BANDS
    hcols = ",\n         ".join(
        f"min((fp * {a} + {b}) % {D.PORTABLE_P})::BIGINT AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_exprs = ", ".join(
        "'" + str(b) + "_' || "
        + " || '_' || ".join(f"h{b * rows + r}" for r in range(rows))
        for b in range(PNDP_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(PNDP_HASHES)
    )
    est = sql_rnd(f"({match_sum})::DOUBLE / {PNDP_HASHES}", 4)
    hlist = ", ".join(f"h{i}" for i in range(PNDP_HASHES))
    corpus = SQL_PNDP_CORPUS.format(plant_offset=PLANT_OFFSET)
    return rf"""
WITH corpus AS ({corpus}),
dwords AS (
  SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS w FROM corpus),
p0 AS (
  SELECT doc, w,
         unnest(range(0, greatest(
           CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT), 1))) AS idx
  FROM dwords),
pass AS (
  SELECT doc, idx,
         array_to_string(list_transform(
           range(idx * {PASSAGE_WORDS} + 1,
                 least((idx + 1) * {PASSAGE_WORDS}, len(w)) + 1),
           j -> w[j]), ' ') AS passage
  FROM p0),
pw AS (
  SELECT doc, idx,
         string_split_regex(lower(trim(passage)), '\s+') AS pw
  FROM pass),
sh AS (
  SELECT doc, idx,
         unnest(list_transform(range(1, greatest(len(pw) - 1, 1)),
                i -> pw[i] || ' ' || pw[i+1] || ' ' || pw[i+2])) AS shingle
  FROM pw WHERE len(pw) >= 3
  UNION ALL
  SELECT doc, idx, array_to_string(pw, ' ') AS shingle
  FROM pw WHERE len(pw) < 3),
fp AS (SELECT doc, idx,
              ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS fp FROM sh),
sig AS (SELECT doc, idx, {hcols}
        FROM fp GROUP BY doc, idx),
banded0 AS (SELECT doc, idx, {hlist}, unnest([{band_exprs}]) AS band FROM sig),
hot AS (
  SELECT band FROM banded0 GROUP BY band
  HAVING count(*) > {PNDP_MAX_DF}),
banded AS (
  SELECT * FROM banded0 b0
  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.band = b0.band))
SELECT DISTINCT a.doc AS doc_a, a.idx AS idx_a,
       b.doc AS doc_b, b.idx AS idx_b, {est} AS est_jaccard
FROM banded a JOIN banded b
  ON a.band = b.band
 AND (a.doc < b.doc OR (a.doc = b.doc AND a.idx < b.idx))
WHERE {est} >= {PNDP_TAU}
"""


SQL_Q192 = _sql_passage_near_pairs()


# --------------------------------------------------------------------
# r10 wave 3: Misra-Gries / SpaceSaving heavy hitters
# --------------------------------------------------------------------

MG_K = 20
MG_SHARDS = 8


def q193_heavy_hitters(spark, sf_dir):
    """SpaceSaving / Misra-Gries top-k heavy hitters with merge
    (operators/sketches.py:mg_topk; Misra & Gries 1982, Metwally et
    al. 2005, Agarwal et al. 2012's merge theorem): the bounded-state
    frequent-tokens summary over the documents token stream — CMS
    (q136) answers "how often is X", this answers "WHAT are the
    top K" with an engine-reproducible, mergeable summary instead of
    Spark's internal FreqItems approximation. Two-level shard
    compress + merge compress; every delta is exact integer
    arithmetic on a deterministic ranking, so est/true/gap are fully
    value-hash oracled and the MG error bound rides as a checked
    boolean (the q50 bound-gate form, but with the estimate itself
    under the hash too)."""
    from .operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").select("text")
    toks = fan_out(docs).select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )
    return SK.mg_topk(toks, "tok", k=MG_K, shards=MG_SHARDS)


SQL_Q193 = f"""
WITH items AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS item
  FROM documents),
cnt AS (SELECT item, count(*)::BIGINT AS cnt FROM items GROUP BY item),
sh AS (
  SELECT *, ((((('0x' || substr(md5(item), 1, 8))::BIGINT % 1000003)
               * 2654435761) % {MG_SHARDS}) + {MG_SHARDS}) % {MG_SHARDS}
              AS shard
  FROM cnt),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY shard
                               ORDER BY cnt DESC, item ASC) AS rn
  FROM sh),
ds AS (
  SELECT shard, coalesce(max(CASE WHEN rn = {MG_K + 1} THEN cnt END), 0)
           AS delta_s
  FROM rk GROUP BY shard),
l1 AS (
  SELECT item, cnt, delta_s, cnt - delta_s AS est1
  FROM rk JOIN ds USING (shard) WHERE cnt > delta_s),
g AS (
  SELECT *, row_number() OVER (ORDER BY est1 DESC, item ASC) AS gn
  FROM l1),
dg AS (
  SELECT coalesce(max(CASE WHEN gn = {MG_K + 1} THEN est1 END), 0)
           AS delta_g
  FROM g),
nt AS (SELECT count(*)::BIGINT AS n_total FROM items)
SELECT item, (est1 - delta_g)::BIGINT AS est, cnt AS true_cnt,
       (delta_s + delta_g)::BIGINT AS gap, n_total,
       (delta_s + delta_g) * {MG_K + 1} <= 2 * n_total AS bound_ok
FROM g, dg, nt WHERE est1 > delta_g
"""


# --------------------------------------------------------------------
# r10 wave 4: dense-route retrieval-quality audit (nDCG for ANN)
# --------------------------------------------------------------------

def q194_ann_ndcg_audit(spark, sf_dir):
    """Rank-quality audit for the dense ANN scale path (functions/
    retrieval.py:ndcg_audit over functions/similarity.py:
    ann_topk_ivf_portable): per-query nDCG@k of the sub-exhaustive
    IVF route (nprobe=2 of 8 lists) against brute-force cosine as
    graded truth — q142 reports recall@k (did the neighbors show
    up), this reports nDCG (did they show up IN THE RIGHT ORDER),
    completing the audit pair the sparse route already has
    (q150 = champion-BM25 nDCG vs q131's recall-style screens). The
    number a curator reads before switching SemDeDup/ANN at 100 TB
    from exact scoring to IVF. Both inputs are |queries|·k ranked
    RESULT frames; discounts are Python-literal constants in both
    engines. Fully value-hash oracled over the unrolled Lloyd
    chain."""
    from .functions import retrieval as RV

    ivf = _ivf_topk_shared(spark, sf_dir)
    brute = _ann_brute_shared(spark, sf_dir)
    approx = ivf.select(
        "query_id", "rank", F.col("neighbor_id").alias("doc_id"))
    exact = brute.select(
        "query_id", "rank", F.col("neighbor_id").alias("doc_id"))
    return RV.ndcg_audit(approx, exact, k=ANN_K)


def _sql_ann_ndcg() -> str:
    from .functions.retrieval import ndcg_discounts

    disc = "[" + ", ".join(repr(d) for d in ndcg_discounts(ANN_K)) + "]"
    k = ANN_K
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
{_sql_ivf_sub()},
ivf_rk AS (
  SELECT query_id, neighbor_id, rk AS "rank" FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM cand) WHERE rk <= {k}),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
bscored AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_rnd('list_dot_product(qq.e, c.e) / (qq.nrm * c.nrm)', 4)} AS cosine
  FROM n qq JOIN n c ON c.vec_id != qq.vec_id
  WHERE qq.vec_id <= {ANN_NUM_QUERIES}),
brute_rk AS (
  SELECT query_id, neighbor_id, rk AS "rank" FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bscored) WHERE rk <= {k}),
gains AS (
  SELECT query_id, neighbor_id, ({k} - "rank" + 1)::DOUBLE AS gain
  FROM brute_rk),
idcg AS (
  SELECT query_id,
         {sql_rnd(f'''sum({sql_rnd(f'({k} - "rank" + 1)::DOUBLE * ({disc})["rank"]', 8)})''', 6)}
           AS idcg
  FROM brute_rk GROUP BY query_id),
dcg AS (
  SELECT a.query_id,
         {sql_rnd(f'''sum({sql_rnd(f'coalesce(g.gain, 0.0) * ({disc})[a."rank"]', 8)})''', 6)}
           AS dcg,
         sum(CASE WHEN g.gain IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_hits
  FROM ivf_rk a LEFT JOIN gains g
    ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY a.query_id)
SELECT query_id, n_hits, dcg, idcg,
       {sql_rnd('CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END', 6)}
         AS ndcg
FROM dcg JOIN idcg USING (query_id)
"""


SQL_Q194 = _sql_ann_ndcg()


# --------------------------------------------------------------------
# r10 wave 5: all-pairs similarity search (prefix filtering)
# --------------------------------------------------------------------

APSS_TAU = 0.9
APSS_MAX_DF_RATIO = 0.5


def q195_allpairs_cosine(spark, sf_dir):
    """Exact all-pairs TF-IDF cosine ≥ τ via prefix filtering
    (functions/similarity.py:allpairs_cosine_tfidf; Bayardo, Ma &
    Srikant WWW 2007): the scale-path answer to q34's all-pairs
    baseline for SPARSE text vectors — candidates come only from an
    inverted index over each document's prefix terms (suffix mass
    provably < τ), so cost is bound by candidate volume, never N².
    The result is EXACT (no MinHash estimate): the missing member
    between q31 (estimated, banded) and q34 (exact, quadratic). On
    this synthetic corpus the 31-word base vocabulary is all
    stopwords (df ≈ N), so after the standard max-df stopword cut
    the surviving signal is the RARE-term structure — the planted
    twins' per-doc markers and the one sub-half-df base word form
    exact tight clusters; a Zipf-vocabulary corpus exercises the
    same plan with full vectors. Fully value-hash oracled —
    idf/norm/prefix boundary all ride the rnd ladder."""
    corpus = _planted_corpus(spark, sf_dir)
    return S.allpairs_cosine_tfidf(corpus, "text", "doc_id",
                                   tau=APSS_TAU,
                                   max_df_ratio=APSS_MAX_DF_RATIO)


def _sql_apss() -> str:
    r8 = lambda e: sql_rnd(e, 8)  # noqa: E731
    return f"""
WITH corpus AS ({SQL_PLANTED}),
toks AS (
  SELECT doc_id AS doc,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM corpus),
tf AS (SELECT doc, t, count(*)::DOUBLE AS tf FROM toks GROUP BY doc, t),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM corpus),
dfreq AS (
  SELECT t, count(*)::BIGINT AS df_ FROM tf GROUP BY t
  HAVING count(*) <= {APSS_MAX_DF_RATIO} * (SELECT n FROM nd)),
w AS (
  SELECT tf.doc, tf.t, d.df_,
         {r8(f"tf.tf * {sql_rnd('ln(((SELECT n FROM nd) + 1.0) / (d.df_ + 1.0))', 8)}")} AS w
  FROM tf JOIN dfreq d USING (t)),
nrm AS (
  SELECT doc, {r8(f"sqrt(sum({r8('w * w')}))")} AS nrm
  FROM w GROUP BY doc),
u AS (
  SELECT w.doc, w.t, w.df_, {r8('w.w / nrm.nrm')} AS u
  FROM w JOIN nrm USING (doc) WHERE nrm.nrm > 0),
mw AS (SELECT t, max(u) AS mw FROM u GROUP BY t),
sc0 AS (SELECT u.doc, u.t, u.df_, u.u, {r8('u.u * mw.mw')} AS c1
        FROM u JOIN mw USING (t)),
sc AS (
  SELECT *, {r8('''sum(c1) OVER (PARTITION BY doc ORDER BY df_ ASC, t ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS cum
  FROM sc0),
fu AS (SELECT doc, max(cum) AS "full" FROM sc GROUP BY doc),
post AS (
  SELECT sc.doc, sc.t, sc.u,
         {r8('cum - c1')} <= {r8(f'"full" - {APSS_TAU}')} AS indexed
  FROM sc JOIN fu USING (doc)),
cand AS (
  SELECT DISTINCT least(i.doc, p.doc) AS doc_a,
         greatest(i.doc, p.doc) AS doc_b
  FROM post i JOIN post p ON i.t = p.t AND i.doc <> p.doc
  WHERE i.indexed),
verified AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_shared,
         {sql_rnd(f"sum({r8('a.u * b.u')})", 4)} AS cosine
  FROM cand c
  JOIN post a ON a.doc = c.doc_a
  JOIN post b ON b.doc = c.doc_b AND b.t = a.t
  GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b, n_shared, cosine FROM verified
WHERE cosine >= {APSS_TAU}
"""


SQL_Q195 = _sql_apss()


# --------------------------------------------------------------------
# r10 wave 6: readability, URL dup-rate
# --------------------------------------------------------------------

def q196_readability(spark, sf_dir):
    """Flesch reading-ease scoring (Flesch 1948; the C4/Gopher-style
    cheap quality signal family — q38 scores length/punct ratios,
    this scores SENTENCE and SYLLABLE structure): per document,
    words / sentences / vowel-group syllable estimate and the Flesch
    score 206.835 − 1.015·(W/S) − 84.6·(Y/W), then a per-(lang,
    band) rollup — the curator's "is this corpus technical-manual or
    tabloid" profile. Syllables via regexp_count of '[aeiouy]+'
    groups (the standard heuristic), sentences via '[.!?]+' runs
    (min 1) — pure codegen regexp, one map + one group-count agg.
    Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = F.lower(F.trim(F.coalesce(F.col("text"), F.lit(""))))
    words = F.size(F.split(t, r"\s+")).cast("double")
    sents = F.greatest(F.lit(1.0),
                       F.regexp_count(t, F.lit(r"[.!?]+")).cast("double"))
    sylls = F.greatest(F.lit(1.0),
                       F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("double"))
    flesch = rnd(
        F.lit(206.835)
        - rnd(F.lit(1.015) * words / sents, 8)
        - rnd(F.lit(84.6) * sylls / words, 8),
        4,
    )
    scored = docs.select(
        "lang",
        flesch.alias("flesch"),
        words.cast("long").alias("_w"),
        sylls.cast("long").alias("_y"),
    )
    band = (
        F.when(F.col("flesch") >= 90, F.lit("very_easy"))
        .when(F.col("flesch") >= 70, F.lit("easy"))
        .when(F.col("flesch") >= 50, F.lit("medium"))
        .when(F.col("flesch") >= 30, F.lit("hard"))
        .otherwise(F.lit("very_hard"))
    )
    return (
        scored.groupBy("lang", band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            rnd(F.avg("flesch"), 4).alias("avg_flesch"),
            rnd(F.avg(F.col("_y") / F.col("_w")), 4)
            .alias("avg_syll_per_word"),
        )
    )


_FL_T = "lower(trim(coalesce(text, '')))"
_FL_W = f"len(string_split_regex({_FL_T}, '\\s+'))::DOUBLE"
_FL_S = f"greatest(1.0, len(regexp_extract_all({_FL_T}, '[.!?]+'))::DOUBLE)"
_FL_Y = f"greatest(1.0, len(regexp_extract_all({_FL_T}, '[aeiouy]+'))::DOUBLE)"
_FL_WS = sql_rnd(f"1.015 * {_FL_W} / {_FL_S}", 8)
_FL_YW = sql_rnd(f"84.6 * {_FL_Y} / {_FL_W}", 8)
_FL_SCORE = sql_rnd(f"206.835 - {_FL_WS} - {_FL_YW}", 4)

SQL_Q196 = f"""
WITH scored AS (
  SELECT lang,
         {_FL_SCORE} AS flesch,
         {_FL_W}::BIGINT AS _w,
         {_FL_Y}::BIGINT AS _y
  FROM documents)
SELECT lang,
       CASE WHEN flesch >= 90 THEN 'very_easy'
            WHEN flesch >= 70 THEN 'easy'
            WHEN flesch >= 50 THEN 'medium'
            WHEN flesch >= 30 THEN 'hard'
            ELSE 'very_hard' END AS band,
       count(*)::BIGINT AS n_docs,
       {sql_rnd('avg(flesch)', 4)} AS avg_flesch,
       {sql_rnd('avg(_y::DOUBLE / _w)', 4)} AS avg_syll_per_word
FROM scored GROUP BY lang, band
"""


def q197_url_dup_rate(spark, sf_dir):
    """Canonical-URL exact dedup audit (the FIRST dedup any crawl
    pipeline runs — URL-level, before any text is read): group the
    synthesized crawl (q190's deterministic messy URLs, REcrawled —
    a second fetch per doc with different tracking params / case /
    fragment noise) by canonical form, count each cluster, and roll
    up per registrable domain: fetches, unique canonical URLs,
    dup rate — proof the canonicalizer actually collapses the
    tracking-param noise a real crawler generates. One map + two
    combinable aggs. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    fetch1 = docs.withColumn("url", _synth_url_expr())
    # the re-fetch: same resource, different incidental noise —
    # scheme case flipped (preserving the scheme itself) and a
    # mail-campaign fragment: canonicalization-invariant noise only,
    # so EVERY re-fetch collapses with its original
    refetch = docs.withColumn(
        "url", _refetch_url_expr(_synth_url_expr(), "from-newsletter"),
    ).where(F.col("doc_id") % 2 == 0)
    crawl = fetch1.unionByName(refetch)
    host = W.url_host(F.col("url"))
    enr = W.attach_registrable_domain(
        crawl.select(
            W.canonical_url(F.col("url")).alias("canon"),
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
        ),
        F.col("_bare"),
    ).drop("_bare")
    return (
        enr.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.countDistinct("canon").cast("long").alias("n_unique"),
        )
        .withColumn(
            "dup_rate",
            rnd((F.col("n_fetches") - F.col("n_unique"))
                / F.col("n_fetches"), 4),
        )
    )


SQL_Q197 = f"""
WITH base AS ({_SQL_SYNTH_URL}),
crawl AS (
  SELECT doc_id, lang, source, text, url FROM base
  UNION ALL
  SELECT doc_id, lang, source, text,
         {_sql_refetch_url('from-newsletter')} AS url
  FROM base WHERE doc_id % 2 = 0),
urls AS (SELECT * FROM crawl),
{_SQL_CANON_CTES}
SELECT domain, count(*)::BIGINT AS n_fetches,
       count(DISTINCT canon_url)::BIGINT AS n_unique,
       {sql_rnd('(count(*) - count(DISTINCT canon_url))::DOUBLE / count(*)', 4)}
         AS dup_rate
FROM dom GROUP BY domain
"""


# --------------------------------------------------------------------
# r10 wave 6b: mergeable quantile summary
# --------------------------------------------------------------------

RSQ_M = 64
RSQ_SHARDS = 4
RSQ_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q198_quantile_summary(spark, sf_dir):
    """Mergeable rank-sample quantile summary + exact audit
    (operators/sketches.py:rank_sample_quantiles; GK 2001 simplified
    to deterministic equi-spaced sampling — the quantile member of
    the mergeable-summaries family next to q193's Misra-Gries and
    q136's count-min): per-shard sorted rank samples with exact rank
    gaps, merged by value-order gap cumsum, queried at 5 standard
    probs over events.value — and each answer audited against its
    EXACT rank by one combinable broadcast-count pass (no global
    sort), with the Σ(step−1) rank-error bound as a checked column.
    The ~shards·m-row summary is the broadcastable artifact a 100 TB
    pipeline ships instead of re-sorting the corpus per quantile
    question. Fully value-hash oracled (est values, ranks, bound,
    verdicts)."""
    from .operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    return SK.rank_sample_quantiles(
        ev, "value", "event_id", probs=RSQ_PROBS,
        m=RSQ_M, shards=RSQ_SHARDS,
    )


_RSQ_TARGETS = " UNION ALL ".join(
    f"SELECT {p!r}::DOUBLE AS p" for p in RSQ_PROBS
)

SQL_Q198 = f"""
WITH base AS (
  SELECT value::DOUBLE AS v, event_id::BIGINT AS i,
         (((event_id % 1000003) * 2654435761) % {RSQ_SHARDS}
          + {RSQ_SHARDS}) % {RSQ_SHARDS} AS s
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT *, row_number() OVER (PARTITION BY s ORDER BY v ASC, i ASC) AS rn
  FROM base),
ns AS (SELECT s, max(rn)::BIGINT AS n_s FROM r GROUP BY s),
r2 AS (
  SELECT r.*, ns.n_s,
         CAST(floor((ns.n_s + {RSQ_M} - 1) / {RSQ_M}.0) AS BIGINT) AS step
  FROM r JOIN ns USING (s)),
kept AS (
  SELECT * FROM r2
  WHERE (rn - 1) % step = 0 OR rn = n_s),
kg AS (
  SELECT *, rn - coalesce(lag(rn) OVER (PARTITION BY s ORDER BY rn), 0)
              AS g
  FROM kept),
merged AS (
  SELECT v, i, g,
         CAST(sum(g) OVER (ORDER BY v ASC, i ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS est_rank
  FROM kg),
nt AS (SELECT count(*)::BIGINT AS n FROM base),
tgt AS (
  SELECT p, CAST(ceil(p * (SELECT n FROM nt)::DOUBLE) AS BIGINT)
              AS target_rank
  FROM ({_RSQ_TARGETS})),
pick0 AS (
  SELECT t.p, t.target_rank, m.v, m.i, m.est_rank,
         row_number() OVER (PARTITION BY t.p
                            ORDER BY m.est_rank, m.v, m.i) AS pr
  FROM tgt t JOIN merged m ON m.est_rank >= t.target_rank),
pick AS (
  SELECT p, target_rank, v AS est_value, i AS _i, est_rank
  FROM pick0 WHERE pr = 1),
exact AS (
  SELECT pk.p, count(*)::BIGINT AS exact_rank
  FROM pick pk JOIN base b
    ON (b.v < pk.est_value
        OR (b.v = pk.est_value AND b.i <= pk._i))
  GROUP BY pk.p),
bnd AS (
  SELECT sum(step - 1)::BIGINT AS err_bound
  FROM (SELECT DISTINCT s, step FROM r2))
SELECT p, est_value, target_rank, est_rank, exact_rank, err_bound,
       (exact_rank >= est_rank AND exact_rank - est_rank <= err_bound)
         AS within_bound
FROM pick JOIN exact USING (p) CROSS JOIN bnd
"""


# --------------------------------------------------------------------
# r10 wave 7: PII masking, passage containment
# --------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _pii_corpus(spark, sf_dir):
    """documents with deterministic PII planted IN BOTH ENGINES (the
    corpus carries none): every 3rd doc gains an email, every 4th a
    phone, every 5th an IP — overlapping, so multi-type docs and
    clean docs both exist."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit(" contact user"), did, F.lit("@mail.example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit(" call 555-010-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    ip = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit(" host 10."), (F.col("doc_id") % 256).cast("string"),
                 F.lit(".0.1")),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, phone, ip).alias("text"))


SQL_PII_CORPUS = """
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
              ELSE '' END)
         || (CASE WHEN doc_id % 4 = 0
              THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              ELSE '' END) AS text
  FROM documents
"""


def q199_pii_redact(spark, sf_dir):
    """PII masking apply (functions/text.py:pii_redact — Dolma §4
    masks emails/phones/IPs before release; q60 only SCANS): every
    match replaced by a typed placeholder in ONE codegen
    regexp_replace chain, with per-type counts — the redaction the
    corpus ships with, not just the audit. The gate plants
    deterministic PII in both engines (the testdata carries none) and
    value-hashes the counts AND the md5 of every redacted text, so a
    drifting regex or a missed second occurrence flips the hash.
    Map-only; scales with the scan."""
    from .functions.text import pii_redact

    return pii_redact(_pii_corpus(spark, sf_dir), "text", "doc_id")


SQL_Q199 = f"""
WITH corpus AS ({SQL_PII_CORPUS}),
red AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
         len(regexp_extract_all(text, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
         len(regexp_extract_all(text, '{PII_IP_RE}'))::BIGINT AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL_RE}', '|||EMAIL|||', 'g'),
           '{PII_PHONE_RE}', '|||PHONE|||', 'g'),
           '{PII_IP_RE}', '|||IP|||', 'g') AS redacted
  FROM corpus)
SELECT doc_id, n_emails, n_phones, n_ips,
       (n_emails + n_phones + n_ips)::BIGINT AS n_pii,
       md5(redacted) AS redacted_md5
FROM red
"""


PCONT_EVERY = 23
PCONT_MAX_DF = 200


def _pcont_corpus(spark, sf_dir):
    """documents ∪ planted EXCERPTS: every ``PCONT_EVERY``-th doc
    contributes a shifted twin holding its first 16 words (two full
    passages) + a unique 8-word tail — a partial-overlap document
    that doc-level near-dup scores far below any threshold but
    passage containment nails at 2/3."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    tail = F.concat_ws(
        " ",
        *[F.concat(F.lit(f"xq{j}w"), (F.col("doc_id") % 89).cast("string"))
          for j in range(8)],
    )
    planted = docs.where(F.col("doc_id") % PCONT_EVERY == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.concat_ws(" ", F.slice(w, 1, 16)), F.lit(" "), tail)
        .alias("text"),
    )
    return docs.unionByName(planted)


_PCONT_TAIL_SQL = " || ' ' || ".join(
    f"'xq{j}w' || CAST(doc_id % 89 AS VARCHAR)" for j in range(8)
)

SQL_PCONT_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {{plant_offset}} AS doc_id,
         array_to_string(w[1:16], ' ') || ' ' || {_PCONT_TAIL_SQL} AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % {PCONT_EVERY} = 0)
"""


def q200_doc_containment(spark, sf_dir):
    """Sub-document containment audit (functions/dedup.py:
    passage_containment_pairs; Lee et al. 2021's ExactSubstr argument
    at the document-pair level — Broder's containment, not jaccard):
    document pairs sharing ≥ 1 exact passage, scored
    shared / min(n_passages) over DISTINCT SURVIVING passage hashes
    on both sides (r11 ADVICE fix: raw passage counts deflated the
    score on internally-repetitive or hot-capped docs) — the
    excerpt/quote/partial-overlap
    detector that doc-level MinHash (symmetric jaccard) structurally
    under-scores: a 3-passage excerpt of a 12-passage doc has
    jaccard ≤ 0.25 but containment 0.67+. Passage-hash equi-join
    with the standard max_df hot-passage cap; the planted excerpt
    twins gate containment ≥ 2/3 while their doc-level jaccard would
    sit near 0.1. Fully value-hash oracled."""
    corpus = _pcont_corpus(spark, sf_dir)
    return D.passage_containment_pairs(
        corpus, "text", "doc_id", passage_words=PASSAGE_WORDS,
        max_df=PCONT_MAX_DF,
    )


def _sql_pcont() -> str:
    corpus = SQL_PCONT_CORPUS.format(plant_offset=PLANT_OFFSET)
    return rf"""
WITH corpus AS ({corpus}),
dwords AS (
  SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS w FROM corpus),
p0 AS (
  SELECT doc, w,
         unnest(range(0, greatest(
           CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT), 1))) AS idx
  FROM dwords),
pass AS (
  SELECT doc, idx,
         md5(array_to_string(list_transform(
           range(idx * {PASSAGE_WORDS} + 1,
                 least((idx + 1) * {PASSAGE_WORDS}, len(w)) + 1),
           j -> w[j]), ' ')) AS h
  FROM p0),
hot AS (
  SELECT h FROM (SELECT DISTINCT doc, h FROM pass) GROUP BY h
  HAVING count(*) > {PCONT_MAX_DF}),
ph AS (
  SELECT DISTINCT doc, h FROM pass p
  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.h = p.h)),
np AS (SELECT doc, count(*)::BIGINT AS n_pass FROM ph GROUP BY doc),
shared AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS n_shared
  FROM ph a JOIN ph b ON a.h = b.h AND a.doc < b.doc
  GROUP BY a.doc, b.doc)
SELECT s.doc_a, s.doc_b, s.n_shared,
       na.n_pass AS n_pass_a, nb.n_pass AS n_pass_b,
       {sql_rnd('s.n_shared::DOUBLE / least(na.n_pass, nb.n_pass)', 4)}
         AS containment
FROM shared s
JOIN np na ON na.doc = s.doc_a
JOIN np nb ON nb.doc = s.doc_b
WHERE {sql_rnd('s.n_shared::DOUBLE / least(na.n_pass, nb.n_pass)', 4)} >= 0.5
"""


SQL_Q200 = _sql_pcont()


# --------------------------------------------------------------------
# r11 wave 2: HTML -> text extraction — stage ZERO of the crawl
# pipeline (functions/html.py documents the contract; VERDICT r10
# directive #2: RefinedWeb/C4/Dolma all start at markup)
# --------------------------------------------------------------------

HTML_NAV = ('<nav><a href="/">Home</a> <a href="/about">About</a>'
            ' <a href="/contact">Contact</a></nav>')
HTML_PROMO = ('<p class="promo"><a href="/sub">Subscribe now</a>'
              ' <a href="/feed">Follow us</a> ok</p>')
HTML_FOOTER = ('<footer><a href="/terms">terms of use</a>'
               ' <a href="/privacy">privacy</a> (c) 2026</footer>')
HTML_HEAD = ('<head><title>crawl page</title><style>p {margin:0}</style>'
             '<script>var trap = "</p> not a block";</script></head>')


def _synth_html_expr(chrome_only_mod: int | None = None):
    """Deterministic messy-HTML page wrapping ``documents.text`` —
    the documents table has no markup column, so the gate synthesizes
    one IN BOTH ENGINES from the same string arithmetic, covering
    every extraction rule: a comment, a head with title/style/script
    (the script body carries a literal ``</p>`` trap that must vanish
    BEFORE block segmentation), a pure-link nav, an h1 + the document
    text as content blocks, an entity-bearing mixed-case DIV, a
    link-dense promo on every 3rd page, and a link-dense footer.
    With ``chrome_only_mod = m``, every ``doc_id % m == 0`` page
    carries NO content blocks at all (nav/promo/footer only) — the
    q206 extraction-failure plant: a page whose extraction comes back
    empty, the thing the audit exists to count."""
    m5 = (F.col("doc_id") % 5).cast("string")
    promo = F.when(F.col("doc_id") % 3 == 0,
                   F.lit(HTML_PROMO)).otherwise(F.lit(""))
    # <abbr>/<param> are tag-BOUNDARY traps: under a prefix-matching
    # rule <param> splits the block as "p" and <abbr> opens an anchor
    # as "a" (r11 review fix) — the contract strips both as inline
    content = F.concat(
        F.lit("<h1>"), F.col("source"), F.lit(" report</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<DIV>Rated <abbr title="r">R</abbr><param name="m">'
              " &amp; reviewed &#39;"), m5,
        F.lit("&#39; times &lt;ok&gt;</DIV>"),
    )
    if chrome_only_mod is not None:
        content = F.when(
            F.col("doc_id") % int(chrome_only_mod) == 0, F.lit("")
        ).otherwise(content)
    return F.concat(
        F.lit("<!-- crawler:"), (F.col("doc_id") % 7).cast("string"),
        F.lit(" -->"),
        F.lit("<html>" + HTML_HEAD + "<body>"),
        F.lit(HTML_NAV),
        content,
        promo,
        F.lit(HTML_FOOTER + "</body></html>"),
    )


# ONE materialization of stage 0 per session (r11 VERDICT directive
# #4): q203/q206/q207/q201 each re-ran the chrome synthesis + the
# regexp-heavy extraction chain independently (~25 s combined at
# sf0.1). The BLOCK frame — (doc_id, source[, url],
# array<struct<t,lt>>) — is the shared intermediate every consumer
# filters/aggregates, so it is memoized per (session, sf_dir,
# variant) like _minhash_pairs_shared and registered in memo_builders()
# so bench attributes each build as its own _memo_* line. On a real
# cluster the same cut is a stage-0 parquet materialization the
# downstream queries all scan — the session cache is the local-mode
# twin of that shape. Oracles are untouched: DuckDB re-runs the full
# SQL chain per query, which is exactly why memoizing the Spark side
# cannot mask a rule change.
@session_memo(_memo_html_blocks="plain", _memo_html_blocks_audit="audit",
              _memo_html_blocks_crawl="crawl")
def _html_blocks_shared(spark, sf_dir, variant):
    """The extracted block frame for one synthesis variant:
    ``plain`` (q203/q207), ``audit`` (q206 — derived from plain: the
    corpus differs ONLY on the chrome-only plant rows, so only the
    1/17 planted pages re-run the extraction regexps), ``crawl``
    (q201 — the funnel corpus with urls and re-fetch/mirror plants).
    """
    if variant == "plain":
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text")
        df = docs.withColumn("html", _synth_html_expr()).select(
            "doc_id", "source",
            H.html_block_structs(F.col("html")).alias("blk"))
    elif variant == "audit":
        plain = _html_blocks_shared(spark, sf_dir, "plain")
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text")
        planted = (
            docs.where(F.col("doc_id") % EXA_CHROME_MOD == 0)
            .withColumn("html", _synth_html_expr(EXA_CHROME_MOD))
            .select("doc_id", "source",
                    H.html_block_structs(F.col("html")).alias("blk"))
        )
        df = plain.where(
            F.col("doc_id") % EXA_CHROME_MOD != 0).unionByName(planted)
    elif variant == "crawl":
        pages = _funnel2_crawl(spark, sf_dir).withColumn(
            "html", _funnel2_page_expr())
        df = pages.select(
            "doc_id", "source", "url",
            H.html_block_structs(F.col("html")).alias("blk"))
    else:
        raise ValueError(f"unknown html-blocks variant {variant!r}")
    return df.persist()


def q203_html_extract(spark, sf_dir):
    """HTML → text extraction (functions/html.py's contract; the
    Kohlschütter WSDM'10 link-density rule at threshold 1/2, exact
    integer compare): strip comments/script/style/head, segment at
    block tags, decode entities, drop link-dense boilerplate blocks
    (nav/promo/footer), join survivors — the stage-0 every crawl
    pipeline runs before q190's URL ops and q38's quality gates.
    Per page: block counts, boilerplate dropped, extracted length and
    md5. Pure per-row map (no shuffle, no explode — blocks live in
    array columns); the planted nav/promo/footer gate n_boiler while
    the md5 ties the full extracted text. Reads the shared stage-0
    block memo (r12); the boilerplate decision + text join stay in
    this plan. Fully value-hash oracled."""
    blkdf = _html_blocks_shared(spark, sf_dir, "plain")
    kept, txt = H.content_text(F.col("blk"))
    return blkdf.select(
        "doc_id",
        F.size("blk").cast("long").alias("n_blocks"),
        (F.size("blk") - F.size(kept)).cast("long").alias("n_boiler"),
        F.length(txt).cast("long").alias("n_chars"),
        F.md5(txt).alias("text_md5"),
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_html_clean(expr: str) -> str:
    """DuckDB twin of functions/html.py:_clean_text over ``expr``."""
    out = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    for pat, rep in H.ENTITIES:
        out = f"replace({out}, {_sql_str(pat)}, {_sql_str(rep)})"
    return "trim(regexp_replace(" + out + ", '\\s+', ' ', 'g'))"


def _sql_html_strip() -> str:
    """Rule-1 strip chain, generated from the SAME regex constants the
    Spark side compiles (functions/html.py) so the twins cannot
    drift."""
    out = "html"
    for pat in (H.COMMENT_RE, H.SCRIPT_RE, H.STYLE_RE, H.HEAD_RE):
        out = f"regexp_replace({out}, {_sql_str(pat)}, ' ', 'g')"
    return out


_SQL_HTML_STRIP = _sql_html_strip()
# anchor-text capture over a lambda var x; coalesce because DuckDB's
# array_to_string([]) is NULL, not ''
_SQL_HTML_ANCHOR = (
    "coalesce(array_to_string(regexp_extract_all("
    "x, " + _sql_str(H.ANCHOR_RE) + ", 1), ' '), '')"
)
# rule-5 join of the kept blocks — coalesced for the all-boilerplate
# page (DuckDB NULL vs Spark '' — r11 review fix)
_SQL_HTML_TXT = ("coalesce(array_to_string("
                 "list_transform(kept, s -> s.t), chr(10)), '')")


def _sql_html_block_ctes(carry: str = "") -> str:
    """The shared extraction CTE pair over a ``pages`` CTE with
    (doc_id{carry}, html): ``b`` = non-empty (t, lt) block structs,
    ``k`` = + the link-density survivors. ONE definition for the four
    oracle builders (q203/q206/q207/q201 stage 0) so a rule change
    lands everywhere at once."""
    clean_t = _sql_html_clean("x")
    clean_l = _sql_html_clean(_SQL_HTML_ANCHOR)
    return f"""b AS (SELECT doc_id{carry}, list_filter(list_transform(
        string_split_regex({_SQL_HTML_STRIP}, {_sql_str(H.BLOCK_TAG_RE)}),
        x -> struct_pack(t := {clean_t}, lt := {clean_l})),
        s -> s.t <> '') AS blk FROM pages),
k AS (SELECT doc_id{carry}, blk,
        list_filter(blk, s -> 2 * length(s.lt) < length(s.t)) AS kept
      FROM b)"""

def _sql_synth_html(chrome_only_mod: int | None = None) -> str:
    """DuckDB twin of :func:`_synth_html_expr`."""
    content = (
        "'<h1>' || source || ' report</h1>'"
        " || '<p>' || text || '</p>'"
        " || '<DIV>Rated <abbr title=\"r\">R</abbr><param name=\"m\">"
        " &amp; reviewed &#39;' || CAST(doc_id % 5 AS VARCHAR)"
        " || '&#39; times &lt;ok&gt;</DIV>'"
    )
    if chrome_only_mod is not None:
        content = (f"CASE WHEN doc_id % {int(chrome_only_mod)} = 0 "
                   f"THEN '' ELSE {content} END")
    return f"""
  SELECT doc_id, source,
         '<!-- crawler:' || CAST(doc_id % 7 AS VARCHAR) || ' -->'
         || {_sql_str("<html>" + HTML_HEAD + "<body>")}
         || {_sql_str(HTML_NAV)}
         || {content}
         || CASE WHEN doc_id % 3 = 0 THEN {_sql_str(HTML_PROMO)} ELSE '' END
         || {_sql_str(HTML_FOOTER + "</body></html>")} AS html
  FROM documents
"""


_SQL_SYNTH_HTML = _sql_synth_html()


def _sql_q203() -> str:
    return f"""
WITH pages AS ({_SQL_SYNTH_HTML}),
{_sql_html_block_ctes()},
t AS (SELECT doc_id, blk, kept, {_SQL_HTML_TXT} AS txt FROM k)
SELECT doc_id, len(blk)::BIGINT AS n_blocks,
       (len(blk) - len(kept))::BIGINT AS n_boiler,
       length(txt)::BIGINT AS n_chars,
       md5(txt) AS text_md5
FROM t
"""


SQL_Q203 = _sql_q203()


EXA_CHROME_MOD = 17


def q206_extraction_audit(spark, sf_dir):
    """Extraction-quality datasheet rollup — stage 0's audit twin
    (what q101's corpus card is to the text ops, this is to the
    markup op): per source, page count, block mass, boilerplate
    rate, mean extracted length, and EMPTY extractions. The planted
    failure mode — every ``doc_id % 17 == 0`` page is chrome-only
    (nav/promo/footer, no content blocks) — models the parked
    domains / link farms / JS-only apps whose pages extract to
    nothing; n_empty is the number a curator reads to drop a domain
    BEFORE any text op spends compute on it. One map stage (the q203
    extractor inline, no explode) + one combinable source-keyed agg.
    Fully value-hash oracled."""
    blkdf = _html_blocks_shared(spark, sf_dir, "audit")
    kept, txt = H.content_text(F.col("blk"))
    per = blkdf.select(
        "source",
        F.size("blk").cast("long").alias("nb"),
        (F.size("blk") - F.size(kept)).cast("long").alias("nboil"),
        F.length(txt).cast("long").alias("nchars"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum("nb").cast("long").alias("n_blocks"),
        F.sum("nboil").cast("long").alias("n_boiler"),
        rnd(F.sum("nboil") / F.sum("nb").cast("double"), 6)
        .alias("boiler_rate"),
        rnd(F.avg("nchars"), 4).alias("mean_chars"),
        F.sum((F.col("nchars") == 0).cast("long")).cast("long")
        .alias("n_empty"),
    )


def _sql_q206() -> str:
    return f"""
WITH pages AS ({_sql_synth_html(EXA_CHROME_MOD)}),
{_sql_html_block_ctes(", source")},
t AS (SELECT source, len(blk)::BIGINT AS nb,
        (len(blk) - len(kept))::BIGINT AS nboil,
        length({_SQL_HTML_TXT})::BIGINT AS nchars
      FROM k)
SELECT source, count(*)::BIGINT AS n_pages,
       sum(nb)::BIGINT AS n_blocks,
       sum(nboil)::BIGINT AS n_boiler,
       {sql_rnd('sum(nboil)::DOUBLE / sum(nb)', 6)} AS boiler_rate,
       {sql_rnd('avg(nchars)', 4)} AS mean_chars,
       sum(CASE WHEN nchars = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty
FROM t GROUP BY source
"""


SQL_Q206 = _sql_q206()

# --------------------------------------------------------------------
# r11 wave 6: frequency-based boilerplate-block discovery — the
# data-driven complement of q203's link-density rule (CleanEval /
# boilerpipe observation: template text repeats ACROSS pages; Dolma
# dedups paragraphs corpus-wide for the same reason)
# --------------------------------------------------------------------

BP_DF_RATIO = 0.15  # a block on >15% of pages is template chrome


def q207_boilerplate_blocks(spark, sf_dir):
    """Cross-page boilerplate-BLOCK audit (functions/html.py blocks +
    the q94 passage-frequency idea lifted to markup blocks): a block
    whose cleaned text recurs on more than ``BP_DF_RATIO`` of pages
    is template chrome no matter what it looks like — the rule that
    catches the LINK-FREE template (the planted rating DIV recurs on
    1/5 of pages and carries zero anchors; link-density alone passes
    it). Per page: blocks, link-rule cuts, frequency-rule cuts, kept
    blocks (neither rule), surviving char mass.

    Shape at scale: one extractor map (no explode until the block
    audit itself), one md5-keyed combinable document-frequency agg on
    uniform keys, the page-count scalar broadcast back, one page-
    keyed agg. The hot-block set is bounded by construction (at most
    1/ratio blocks can each sit on > ratio of pages times the mean
    blocks-per-page — template chrome, not corpus mass). Fully
    value-hash oracled."""
    blkdf = _html_blocks_shared(spark, sf_dir, "plain")
    blk = blkdf.select(
        "doc_id", F.explode("blk").alias("b")
    ).select(
        "doc_id",
        F.col("b.t").alias("t"),
        (2 * F.length("b.lt") >= F.length("b.t")).alias("link_boiler"),
        F.md5("b.t").alias("h"),
    )
    df_ = blk.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    n_pages = blkdf.agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
    flagged = (
        blk.join(df_, "h")
        .crossJoin(F.broadcast(n_pages))
        .withColumn(
            "freq_boiler",
            F.col("df").cast("double")
            > F.lit(float(BP_DF_RATIO)) * F.col("n_pages"),
        )
    )
    kept = ~F.col("link_boiler") & ~F.col("freq_boiler")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("link_boiler").cast("long")).cast("long")
        .alias("n_link"),
        F.sum(F.col("freq_boiler").cast("long")).cast("long")
        .alias("n_freq"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.length("t")).otherwise(0)).cast("long")
        .alias("kept_chars"),
    )


def _sql_q207() -> str:
    return f"""
WITH pages AS ({_sql_synth_html()}),
{_sql_html_block_ctes()},
blk AS (
  SELECT doc_id, s.t AS t,
         (2 * length(s.lt) >= length(s.t)) AS link_boiler,
         md5(s.t) AS h
  FROM (SELECT doc_id, unnest(blk) AS s FROM b)),
df AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS df FROM blk GROUP BY h),
np AS (SELECT count(*)::BIGINT AS n_pages FROM pages),
flagged AS (
  SELECT blk.doc_id, blk.t, blk.link_boiler,
         (df.df::DOUBLE > {BP_DF_RATIO} * np.n_pages) AS freq_boiler
  FROM blk JOIN df USING (h), np)
SELECT doc_id, count(*)::BIGINT AS n_blocks,
       sum(CASE WHEN link_boiler THEN 1 ELSE 0 END)::BIGINT AS n_link,
       sum(CASE WHEN freq_boiler THEN 1 ELSE 0 END)::BIGINT AS n_freq,
       sum(CASE WHEN NOT link_boiler AND NOT freq_boiler
                THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN NOT link_boiler AND NOT freq_boiler
                THEN length(t) ELSE 0 END)::BIGINT AS kept_chars
FROM flagged GROUP BY doc_id
"""


SQL_Q207 = _sql_q207()


# --------------------------------------------------------------------
# r11 wave 4: robots/license/allowlist policy gating (VERDICT r10
# directive #5 — the provenance audit a dataset release needs)
# --------------------------------------------------------------------

# license inferred from the registrable domain's suffix (synthetic
# but deterministic — a stand-in for the license-metadata table a
# real release joins in); order matters (.co.uk before the generic
# tail rule)
POLICY_LICENSE_RULES = (
    (".co.uk", "all-rights-reserved"),
    (".org", "cc-by"),
    (".net", "research-only"),
)
POLICY_DEFAULT_LICENSE = "permissive"
# synthetic robots.txt verdict: domains whose md5 leads with 0/1
# disallow crawling (~1/8 of the domain universe, deterministic in
# both engines)
POLICY_ROBOTS_HEX = ("0", "1")


def _policy_cols(domain):
    """(status, license) for a registrable-domain Column — THE single
    policy rule shared by q205's rollup and q201's stage-2 gate:
    blocklist beats robots beats allow; license from the suffix."""
    status = (
        F.when(domain.isin(*BLOCKED_DOMAINS), F.lit("block"))
        .when(F.substring(F.md5(domain), 1, 1).isin(*POLICY_ROBOTS_HEX),
              F.lit("robots-disallow"))
        .otherwise(F.lit("allow"))
    )
    lic = F.lit(POLICY_DEFAULT_LICENSE)
    for suf, name in reversed(POLICY_LICENSE_RULES):
        lic = F.when(domain.endswith(suf), F.lit(name)).otherwise(lic)
    return status, lic


def domain_policy(domains: DataFrame) -> DataFrame:
    """The broadcastable policy table: one row per distinct domain
    with (status, license). Domain-cardinality sized — ships to every
    executor; the fact side joins it instead of hardcoding literal
    blocklists (q191's anti-pattern generalized)."""
    d = F.col("domain")
    status, lic = _policy_cols(d)
    return domains.select("domain").distinct().select(
        "domain", status.alias("status"), lic.alias("license"))


def q205_license_rollup(spark, sf_dir):
    """License/robots provenance rollup (the datasheet table a corpus
    RELEASE publishes — RefinedWeb §3.1's URL gates joined with the
    license metadata C4/Dolma releases document; robots.txt respect
    per Dolma §2.1): canonical domains join a broadcast policy table
    (domain → allow/block/robots-disallow + license class) and the
    corpus rolls up per (license, status): domains, documents, token
    mass — the "what are we allowed to train on, and how much of it
    is there" audit. One URL-synth map, one broadcast hash join (the
    policy side is domain-cardinality), one combinable agg. Fully
    value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    urls = docs.withColumn("url", _synth_url_expr())
    host = W.url_host(F.col("url"))
    toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    enr = W.attach_registrable_domain(
        urls.select(
            "doc_id",
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
            toks.cast("long").alias("n_tok"),
        ),
        F.col("_bare"),
    ).drop("_bare")
    # narrow (doc_id, domain, n_tok) cache (r12, guide §1.2): the
    # policy table derives from enr's DISTINCT domains, so without it
    # the URL-synth + canonicalization + PSL-join + tokenize chain ran
    # twice — once under the broadcast build, once on the fact side
    enr = enr.cache()
    policy = domain_policy(enr)
    joined = enr.join(F.broadcast(policy), "domain")
    out = (
        joined.groupBy("license", "status")
        .agg(
            F.countDistinct("domain").cast("long").alias("n_domains"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    out._cached_inputs = [enr]  # see functions.dedup.release
    return out


def _sql_policy_case() -> tuple[str, str]:
    """(status, license) SQL expressions over a column named
    ``domain`` — the DuckDB twin of :func:`_policy_cols`."""
    blocked = ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
    hexes = ", ".join(f"'{h}'" for h in POLICY_ROBOTS_HEX)
    status = (
        f"CASE WHEN domain IN ({blocked}) THEN 'block' "
        f"WHEN substr(md5(domain), 1, 1) IN ({hexes}) "
        f"THEN 'robots-disallow' ELSE 'allow' END"
    )
    lic = f"'{POLICY_DEFAULT_LICENSE}'"
    for suf, name in reversed(POLICY_LICENSE_RULES):
        lic = (f"CASE WHEN domain LIKE '%{suf}' THEN '{name}' "
               f"ELSE {lic} END")
    return status, lic


def _sql_q205() -> str:
    status, lic = _sql_policy_case()
    tok = "len(string_split_regex(lower(trim(text)), '\\s+'))"
    return f"""
WITH base AS ({_SQL_SYNTH_URL}),
urls AS (SELECT * FROM base),
{_SQL_CANON_CTES},
enr AS (
  SELECT doc_id, domain,
         {tok}::BIGINT AS n_tok
  FROM dom),
policy AS (
  SELECT domain, {status} AS status, {lic} AS license
  FROM (SELECT DISTINCT domain FROM enr))
SELECT p.license, p.status,
       count(DISTINCT e.domain)::BIGINT AS n_domains,
       count(*)::BIGINT AS n_docs,
       sum(e.n_tok)::BIGINT AS n_tokens
FROM enr e JOIN policy p USING (domain)
GROUP BY p.license, p.status
"""


SQL_Q205 = _sql_q205()


# --------------------------------------------------------------------
# r10 wave 8: the modern crawl-curation funnel, end to end
# --------------------------------------------------------------------

FUN2_REFETCH_OFFSET = 2_000_000
FUN2_MIRROR_OFFSET = 3_000_000
# 16 words = exactly two 8-word passages, so the plant is passage-
# aligned on every doc (appended at the end of the text)
FUN2_BOILER = ("subscribe to our newsletter for daily updates and "
               "follow the channel to never miss a story")
FUN2_MIN_TOKENS = 20
FUN2_MAX_TOKENS = 2000
FUN2_MIN_DISTINCT_RATIO = 0.2


def _funnel2_crawl(spark, sf_dir):
    """The synthetic crawl for q201: documents with (a) boilerplate
    appended to every 11th doc (passage-aligned, two passages), (b) a
    RE-FETCH of every even doc (same text, noisier URL — the q197
    plant), (c) a MIRROR of every 7th doc (same text on a different
    domain — URL dedup cannot see it, exact text dedup must)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    text2 = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.lit(" " + FUN2_BOILER)),
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", "source", text2.alias("text")) \
        .withColumn("url", _synth_url_expr())
    refetch = base.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + FUN2_REFETCH_OFFSET).alias("doc_id"),
        "source", "text",
        _refetch_url_expr(F.col("url"), "refetch").alias("url"),
    )
    mirror = base.where(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + FUN2_MIRROR_OFFSET).alias("doc_id"),
        "source", "text",
        F.concat(F.lit("https://mirror-"), F.col("source"),
                 F.lit(".net/copy/"),
                 (F.col("doc_id") % 1000).cast("string")).alias("url"),
    )
    return base.unionByName(refetch).unionByName(mirror)


def _funnel2_page_expr():
    """The funnel's page chrome (stage 0 input): q203's nav/promo/
    footer boilerplate around the crawl text as the page's SINGLE
    content block — so the extractor round-trips the text exactly
    (the corpus is whitespace-normal; round-trip pinned in
    tests/test_wave14.py) and stages 1–5 are byte-identical to the
    pre-extraction funnel."""
    promo = F.when(F.col("doc_id") % 3 == 0,
                   F.lit(HTML_PROMO)).otherwise(F.lit(""))
    return F.concat(
        F.lit("<!-- crawler:"), (F.col("doc_id") % 7).cast("string"),
        F.lit(" -->"),
        F.lit("<html>" + HTML_HEAD + "<body>" + HTML_NAV + "<p>"),
        F.col("text"), F.lit("</p>"),
        promo,
        F.lit(HTML_FOOTER + "</body></html>"),
    )


def q201_curation_funnel_v2(spark, sf_dir):
    """The MODERN crawl-curation funnel end to end (RefinedWeb Fig. 2
    / Dolma's pipeline, stage by stage — q85 composes the TEXT-side
    funnel; this one starts where real pipelines start, at MARKUP):

      0. HTML → text extraction (q203's contract, functions/html.py):
         each fetched page is deterministic chrome (nav/promo/footer
         boilerplate) around the document text as its single content
         block; the link-density rule drops the chrome and the text
         round-trips EXACTLY, so stages 1–5 see precisely the corpus
         they saw pre-r11 (this stage's row counts BLOCKS — n_in =
         blocks seen, n_dropped = boilerplate blocks cut);
      1. canonical-URL exact dedup (q190's canonical form,
         keep-first) — kills re-fetch noise;
      2. domain policy gate (q205's broadcast policy table — the
         blocklist generalized with the robots-disallow slice; r11);
      3. exact text dedup (md5 keep-first) — kills cross-domain
         mirrors the URL stage cannot see;
      4. boilerplate passage audit (q94's splitter): count docs
         carrying cross-doc duplicated passages and the passages
         that a C4-style cut would remove (docs pass through —
         passages, not documents, are the unit here);
      5. quality gate: token count in [20, 2000] and distinct-token
         ratio ≥ 0.2 (the q38 family's cheap signals).

    Returns one row per stage: (stage_no, stage, n_in, n_kept,
    n_dropped) — the funnel table a curator publishes with the
    corpus datasheet. ONE declarative plan (the q85 convention):
    survivor flags compose through two dedup windows and a codegen
    gate, one combinable agg counts every stage at once, and the
    five report rows come from an exploded literal-struct array —
    no driver-side counting, nothing quadratic. Fully value-hash
    oracled."""
    blkdf = _html_blocks_shared(spark, sf_dir, "crawl")
    kept, txt = H.content_text(F.col("blk"))
    crawl = blkdf.select(
        "doc_id", "source", "url",
        F.size("blk").cast("long").alias("_nb"),
        (F.size("blk") - F.size(kept)).cast("long").alias("_nboil"),
        txt.alias("text"),
    )
    host = W.url_host(F.col("url"))
    w1 = Window.partitionBy(
        W.canonical_url(F.col("url"))).orderBy("doc_id")
    f1 = W.attach_registrable_domain(
        crawl.withColumn("k1", F.row_number().over(w1) == 1),
        F.regexp_replace(host, r":[0-9]+$", ""),
    )
    # stage 2, generalized (r11): a broadcast POLICY table (q205's
    # blocklist + robots + license rule) instead of a literal isin —
    # survivors are status='allow' (blocklisted AND robots-disallowed
    # domains both drop, as a release pipeline must)
    policy = domain_policy(f1.select("domain"))
    f2 = f1.join(F.broadcast(policy), "domain", "left").withColumn(
        "k2", F.col("k1") & (F.col("status") == "allow"))
    w3 = Window.partitionBy(F.md5("text")).orderBy(
        F.col("k2").desc(), F.col("doc_id").asc())
    f3 = f2.withColumn(
        "k3", F.col("k2") & (F.row_number().over(w3) == 1))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tok = F.size(toks)
    distinct_ratio = rnd(
        F.size(F.array_distinct(toks)) / n_tok.cast("double"), 6)
    flags = f3.withColumn(
        "k5",
        F.col("k3") & (n_tok >= FUN2_MIN_TOKENS)
        & (n_tok <= FUN2_MAX_TOKENS)
        & (distinct_ratio >= FUN2_MIN_DISTINCT_RATIO),
    ).persist()
    counts = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.col("k1").cast("long")).cast("long").alias("n1"),
        F.sum(F.col("k2").cast("long")).cast("long").alias("n2"),
        F.sum(F.col("k3").cast("long")).cast("long").alias("n3"),
        F.sum(F.col("k5").cast("long")).cast("long").alias("n5"),
        F.sum("_nb").cast("long").alias("b0"),
        (F.sum("_nb") - F.sum("_nboil")).cast("long").alias("bk"),
        F.sum("_nboil").cast("long").alias("bd"),
    )
    # stage 4: docs pass through; the AUDIT counts survivors that
    # carry a cross-doc duplicated passage (what a C4 cut would edit)
    pd_ = D.passage_dedup(
        flags.where(F.col("k3")).select("doc_id", "text"),
        "text", "doc_id", passage_words=PASSAGE_WORDS)
    cut = pd_.agg(
        F.coalesce(F.sum((F.col("n_dropped") > 0).cast("long")),
                   F.lit(0)).cast("long").alias("n4c"))

    def stage(no, name, n_in, n_kept, n_drop):
        return F.struct(
            F.lit(no).cast("long").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col(n_in).alias("n_in"),
            F.col(n_kept).alias("n_kept"),
            n_drop.alias("n_dropped"),
        )

    out = counts.crossJoin(cut).select(
        F.explode(F.array(
            stage(0, "html_extract", "b0", "bk", F.col("bd")),
            stage(1, "url_canonical_dedup", "n0", "n1",
                  F.col("n0") - F.col("n1")),
            stage(2, "domain_policy_gate", "n1", "n2",
                  F.col("n1") - F.col("n2")),
            stage(3, "exact_text_dedup", "n2", "n3",
                  F.col("n2") - F.col("n3")),
            stage(4, "boilerplate_passage_audit", "n3", "n3",
                  F.col("n4c")),
            stage(5, "quality_gate", "n3", "n5",
                  F.col("n3") - F.col("n5")),
        )).alias("s")
    ).select("s.*")
    out._cached_inputs = [flags]
    return out


_SQL_FUN2_CRAWL = f"""
  WITH d2 AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 11 = 0
                THEN text || ' {FUN2_BOILER}' ELSE text END AS text
    FROM documents),
  synth AS ({{synth}}),
  base AS (
    SELECT d2.doc_id, d2.source, d2.text, synth.url
    FROM d2 JOIN synth USING (doc_id))
  SELECT doc_id, source, text, url FROM base
  UNION ALL
  SELECT doc_id + {FUN2_REFETCH_OFFSET}, source, text,
         {{refetch}}
  FROM base WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + {FUN2_MIRROR_OFFSET}, source, text,
         'https://mirror-' || source || '.net/copy/'
         || CAST(doc_id % 1000 AS VARCHAR)
  FROM base WHERE doc_id % 7 = 1
"""


def _sql_funnel2() -> str:
    crawl = _SQL_FUN2_CRAWL.format(
        synth=_SQL_SYNTH_URL, refetch=_sql_refetch_url("refetch"))
    pol_status, _pol_lic = _sql_policy_case()
    tok = "string_split_regex(lower(trim(text)), '\\s+')"
    dr = sql_rnd(f"len(list_distinct({tok}))::DOUBLE / len({tok})", 6)
    page_pre = _sql_str("<html>" + HTML_HEAD + "<body>" + HTML_NAV + "<p>")
    page_post = _sql_str(HTML_FOOTER + "</body></html>")
    promo = _sql_str(HTML_PROMO)
    return rf"""
WITH crawl AS ({crawl}),
pages AS (
  SELECT doc_id, source, url,
         '<!-- crawler:' || CAST(doc_id % 7 AS VARCHAR) || ' -->'
         || {page_pre} || text || '</p>'
         || CASE WHEN doc_id % 3 = 0 THEN {promo} ELSE '' END
         || {page_post} AS html
  FROM crawl),
{_sql_html_block_ctes(", source, url")},
urls AS (
  SELECT doc_id, source,
         {_SQL_HTML_TXT} AS text,
         url, len(blk)::BIGINT AS _nb,
         (len(blk) - len(kept))::BIGINT AS _nboil
  FROM k),
{_SQL_CANON_CTES},
s1 AS (
  SELECT doc_id, source, text, url, canon_url, domain FROM (
    SELECT dom.*, row_number() OVER (PARTITION BY canon_url
                                     ORDER BY doc_id) AS _rn
    FROM dom) WHERE _rn = 1),
policy AS (
  SELECT domain, {pol_status} AS status
  FROM (SELECT DISTINCT domain FROM s1)),
s2 AS (SELECT s1.* FROM s1 JOIN policy USING (domain)
       WHERE status = 'allow'),
s3 AS (
  SELECT * FROM (
    SELECT s2.*, row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS _rn
    FROM s2) WHERE _rn = 1),
pwords AS (
  SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS w
  FROM s3),
pp0 AS (
  SELECT doc, w,
         unnest(range(0, greatest(
           CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT), 1))) AS idx
  FROM pwords),
ppass AS (
  SELECT doc, idx,
         array_to_string(list_transform(
           range(idx * {PASSAGE_WORDS} + 1,
                 least((idx + 1) * {PASSAGE_WORDS}, len(w)) + 1),
           j -> w[j]), ' ') AS passage
  FROM pp0),
phashed AS (
  SELECT doc, idx, md5(passage) AS h, ROW(doc, idx) AS k FROM ppass),
pfirsts AS (SELECT h, min(k) AS first_k FROM phashed GROUP BY h),
pcut AS (
  SELECT doc, sum(CASE WHEN k <> first_k THEN 1 ELSE 0 END)::BIGINT
           AS n_dropped
  FROM phashed JOIN pfirsts USING (h) GROUP BY doc),
cutagg AS (
  SELECT coalesce(sum(CASE WHEN n_dropped > 0 THEN 1 ELSE 0 END), 0)::BIGINT
           AS n_docs_cut
  FROM pcut),
s5 AS (
  SELECT * FROM s3
  WHERE len({tok}) BETWEEN {FUN2_MIN_TOKENS} AND {FUN2_MAX_TOKENS}
    AND {dr} >= {FUN2_MIN_DISTINCT_RATIO}),
counts AS (
  SELECT (SELECT count(*) FROM crawl)::BIGINT AS n0,
         (SELECT count(*) FROM s1)::BIGINT AS n1,
         (SELECT count(*) FROM s2)::BIGINT AS n2,
         (SELECT count(*) FROM s3)::BIGINT AS n3,
         (SELECT n_docs_cut FROM cutagg) AS n4c,
         (SELECT count(*) FROM s5)::BIGINT AS n5,
         (SELECT sum(_nb) FROM urls)::BIGINT AS b0,
         (SELECT sum(_nboil) FROM urls)::BIGINT AS bd)
SELECT 0::BIGINT AS stage_no, 'html_extract' AS stage,
       b0 AS n_in, b0 - bd AS n_kept, bd AS n_dropped FROM counts
UNION ALL SELECT 1, 'url_canonical_dedup', n0, n1, n0 - n1 FROM counts
UNION ALL SELECT 2, 'domain_policy_gate', n1, n2, n1 - n2 FROM counts
UNION ALL SELECT 3, 'exact_text_dedup', n2, n3, n2 - n3 FROM counts
UNION ALL SELECT 4, 'boilerplate_passage_audit', n3, n3, n4c FROM counts
UNION ALL SELECT 5, 'quality_gate', n3, n5, n3 - n5 FROM counts
"""


SQL_Q201 = _sql_funnel2()


# --------------------------------------------------------------------
# r10 wave 9: incremental crawl-frontier novelty
# --------------------------------------------------------------------

def q202_url_frontier(spark, sf_dir):
    """Incremental crawl-frontier novelty (the URL-level sibling of
    q49's text anti-join — what a crawler asks EVERY batch: which of
    these candidate URLs have we already fetched?): a new batch of
    candidate URLs — every 5th doc re-offered with fresh tracking
    noise (same canonical form → known) plus a ``/v2/`` variant per
    remaining doc (new canonical form → novel) — anti-joins the
    existing corpus ON THE CANONICAL FORM, then rolls novelty up per
    registrable domain. Raw-URL comparison would re-fetch every
    noisy re-offer; the canonical key is what makes frontier dedup
    work. One map stage per side + one hash anti-join on uniform
    string keys + one domain-keyed combinable agg. Fully value-hash
    oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    existing = docs.withColumn("url", _synth_url_expr())
    reoffer = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "source",
        _refetch_url_expr(_synth_url_expr(), "offer").alias("url"),
    )
    fresh = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id", "source",
        F.concat(
            F.lit("https://cdn."), F.col("source"), F.lit(".net/v2/"),
            (F.col("doc_id") % 1000).cast("string"),
        ).alias("url"),
    )
    batch = reoffer.unionByName(fresh)
    host = W.url_host(F.col("url"))
    seen = existing.select(
        W.canonical_url(F.col("url")).alias("canon")).distinct()
    cand = W.attach_registrable_domain(
        batch.select(
            W.canonical_url(F.col("url")).alias("canon"),
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
        ),
        F.col("_bare"),
    ).drop("_bare")
    # One pass (r12, guide §1.2): the anti-join + per-domain count
    # used to be TWO aggregations over `cand`, each re-running the
    # full URL-synth + canonicalization + PSL-join chain. `seen` is
    # DISTINCT canon keys, so a left join cannot fan out batch rows —
    # novelty is just "no match", and both counts fall out of one
    # domain-keyed combinable agg.
    hit = seen.withColumn("_seen", F.lit(True))
    return (
        cand.join(hit, "canon", "left")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long").alias("n_novel"),
        )
        .select(
            "domain", "n_batch", "n_novel",
            rnd(F.col("n_novel") / F.col("n_batch"), 4)
            .alias("novelty_rate"),
        )
    )


SQL_Q202 = f"""
WITH base AS ({_SQL_SYNTH_URL}),
batch0 AS (
  SELECT doc_id, source,
         {_sql_refetch_url('offer')} AS url
  FROM base WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, source,
         'https://cdn.' || source || '.net/v2/'
         || CAST(doc_id % 1000 AS VARCHAR) AS url
  FROM base WHERE doc_id % 5 != 0),
urls AS (
  SELECT doc_id, url FROM base
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, url FROM batch0),
{_SQL_CANON_CTES},
seen AS (
  SELECT DISTINCT canon_url AS canon FROM dom WHERE doc_id < 10000000),
cand AS (
  SELECT canon_url AS canon, domain FROM dom WHERE doc_id >= 10000000),
per AS (
  SELECT domain, count(*)::BIGINT AS n_batch FROM cand GROUP BY domain),
novel AS (
  SELECT domain, count(*)::BIGINT AS n_novel
  FROM cand WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.canon = cand.canon)
  GROUP BY domain)
SELECT per.domain, per.n_batch,
       coalesce(novel.n_novel, 0)::BIGINT AS n_novel,
       {sql_rnd('coalesce(novel.n_novel, 0)::DOUBLE / per.n_batch', 4)}
         AS novelty_rate
FROM per LEFT JOIN novel USING (domain)
"""




# --------------------------------------------------------------------
# r11 wave 3: multi-class (softmax) hashed-gram classifier — the
# langid / domain-routing head (VERDICT r10 directive #3: generalize
# the oracled binary logreg chain q104/q130 to K classes)
# --------------------------------------------------------------------

SMX_LANGS = ("de", "en", "es", "fr", "zh")  # the corpus' lang domain
SMX_MARKERS = {
    "de": "der und das ist nicht ein",
    "en": "the and of is not a",
    "es": "el y la es no una",
    "fr": "le et la est pas une",
    "zh": "de shi bu le zai yi",
}
SMX_REPEAT = 8
SMX_BUCKETS = 8
SMX_ITERS = 3
SMX_LR = 1.0


def _smx_corpus(spark, sf_dir):
    """The planted K-language corpus: the documents table's lang
    column becomes the class label (index into the sorted lang
    domain), and each document gets its language's function-word
    marker appended ``SMX_REPEAT`` times — the synthetic stand-in for
    actual per-language vocabulary (the generator writes one shared
    vocabulary for every lang), built from the same deterministic
    string arithmetic IN BOTH ENGINES. Overlapping markers are kept
    deliberately (fr/es share 'la', zh romanization reuses 'de'/'le')
    so separation requires the joint bucket profile, not one word."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    lbl = F.lit(None).cast("int")
    mk = F.lit(None).cast("string")
    for i, lang in enumerate(SMX_LANGS):
        tag = (" " + SMX_MARKERS[lang]) * SMX_REPEAT
        lbl = F.when(F.col("lang") == lang, i).otherwise(lbl)
        mk = F.when(F.col("lang") == lang, F.lit(tag)).otherwise(mk)
    return docs.select(
        "doc_id",
        lbl.alias("label"),
        F.concat(F.col("text"), mk).alias("text"),
    )


def q204_softmax_classifier(spark, sf_dir):
    """Multi-class softmax langid head (functions/classify.py:
    softmax_train/softmax_score over hashed_gram_features_labeled;
    Joulin et al. 2017's fastText shape with Bishop §4.3.4's
    multinomial gradient): unigram+bigram features hashed into 8
    portable buckets, K=5 language heads trained jointly by 3
    full-batch GD scans (each iteration ONE corpus agg carrying all
    K·9 gradient columns — map-side combinable, model-sized driver
    state), then every doc scored with per-class probabilities and
    an argmax routing decision. Replaces q37's stopword-heuristic
    langid with a TRAINED head; the planted marker corpus gates
    separation (tests/test_wave15.py: accuracy ≥ 0.9). The oracle
    unrolls feature hashing AND the full K-class gradient loop.
    Fully value-hash oracled."""
    from .functions import classify as C

    corpus = _smx_corpus(spark, sf_dir)
    cols = [f"x{j}" for j in range(SMX_BUCKETS)]
    # raw persisted so standardize's stats agg and the z-scored main
    # pass share ONE gram-pipeline build (guide §1.2); the z-scored
    # frame then localCheckpoints so softmax_train's count + SMX_ITERS
    # gradient scans and the scoring pass analyze a LEAF instead of
    # re-analyzing the full feature lineage per driver action (the
    # dominant cost at bench scale; the _pca_shared lesson). raw is
    # released immediately after the checkpoint materializes.
    raw = C.hashed_gram_features_labeled(
        corpus, "text", "doc_id", "label", buckets=SMX_BUCKETS
    ).persist()
    feats = C.standardize_features(raw, cols).localCheckpoint()
    raw.unpersist()
    W = C.softmax_train(feats, cols, "label", n_classes=len(SMX_LANGS),
                        iters=SMX_ITERS, lr=SMX_LR)
    scored = C.softmax_score(feats, cols, W)
    out = scored.select(
        "doc_id",
        F.col("label").cast("long").alias("label"),
        *[f"p{k}" for k in range(len(SMX_LANGS))],
        F.col("pred").cast("long").alias("pred"),
    )
    return out


def _sql_softmax() -> str:
    """q204's oracle: the q130 hashed-gram unroll generalized to a
    K-class weight MATRIX — per iteration one margin/exp CTE, one
    softmax CTE, one K·(B+1)-column gradient CTE, one weight CTE;
    every visible number rides the same rnd ladder as the Spark
    chain (margins/probs at 8, gradients/weights at 6)."""
    B, K = SMX_BUCKETS, len(SMX_LANGS)
    lbl_case = ("CASE lang " + " ".join(
        f"WHEN '{lang}' THEN {i}" for i, lang in enumerate(SMX_LANGS))
        + " END")
    mk_case = ("CASE lang " + " ".join(
        "WHEN '{}' THEN {}".format(
            lang, _sql_str((" " + SMX_MARKERS[lang]) * SMX_REPEAT))
        for lang in SMX_LANGS) + " END")
    xcols = ",\n         ".join(
        f"{sql_rnd(f'sum(CASE WHEN b = {j} THEN 1.0 ELSE 0.0 END) / count(*)', 6)} AS x{j}"
        for j in range(B)
    )
    w0_cols = ", ".join(
        f"0.0 AS w{k}_{j}" for k in range(K) for j in range(B + 1))
    # z-scoring stats (classify.standardize_features' ladder): mean
    # and raw second moment at 6, sd at 6 with the 0 -> 1 guard
    stat_cols = ", ".join(
        f"{sql_rnd(f'avg(x{j})', 6)} AS m{j}, "
        f"{sql_rnd(f'avg(x{j} * x{j})', 6)} AS q{j}"
        for j in range(B)
    )
    sd_cols = ", ".join(
        f"m{j}, CASE WHEN "
        + sql_rnd(f"sqrt(greatest(q{j} - m{j} * m{j}, 0.0))", 6)
        + " = 0.0 THEN 1.0 ELSE "
        + sql_rnd(f"sqrt(greatest(q{j} - m{j} * m{j}, 0.0))", 6)
        + f" END AS sd{j}"
        for j in range(B)
    )
    z_cols = ", ".join(
        f"{sql_rnd(f'(f.x{j} - s.m{j}) / s.sd{j}', 6)} AS x{j}"
        for j in range(B)
    )
    parts = [rf"""corpus AS (
  SELECT doc_id, {lbl_case} AS y, text || {mk_case} AS text
  FROM documents),
words AS (
  SELECT doc_id AS doc, y,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM corpus),
uni AS (SELECT doc, y, unnest(w) AS g FROM words),
big AS (
  SELECT doc, y,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])) AS g
  FROM words WHERE len(w) >= 2),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
bk AS (
  SELECT doc, y,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % {B} AS b
  FROM grams),
feat0 AS (
  SELECT doc AS doc_id, any_value(y) AS y,
         {xcols}
  FROM bk GROUP BY doc),
st0 AS (SELECT {stat_cols} FROM feat0),
st AS (SELECT {sd_cols} FROM st0),
feat AS (
  SELECT doc_id, y, {z_cols}
  FROM feat0 f, st s),
cnt AS (SELECT count(*)::DOUBLE AS n FROM feat),
w0 AS (SELECT {w0_cols})"""]

    def zexpr(k: int) -> str:
        terms = [f"w.w{k}_0 * 1.0"] + [
            f"w.w{k}_{j + 1} * f.x{j}" for j in range(B)
        ]
        return " + ".join(terms)

    fxcols = ", ".join(f"f.x{j}" for j in range(B))
    esum = " + ".join(f"e{k}" for k in range(K))

    for i in range(1, SMX_ITERS + 1):
        ecols = ", ".join(
            f"exp({sql_rnd(zexpr(k), 8)}) AS e{k}" for k in range(K))
        parts.append(f"""z{i} AS (
  SELECT f.y, {fxcols}, {ecols}
  FROM feat f, w{i - 1} w)""")
        pcols = ", ".join(
            f"{sql_rnd(f'e{k} / ({esum})', 8)} AS p{k}" for k in range(K))
        xpass = ", ".join(f"x{j}" for j in range(B))
        parts.append(f"""s{i} AS (
  SELECT y, {xpass}, {pcols}
  FROM z{i})""")
        gcols = ",\n         ".join(
            f"{sql_rnd(f'sum((p{k} - CASE WHEN y = {k} THEN 1.0 ELSE 0.0 END) * ' + ('1.0' if j == 0 else f'x{j - 1}') + ') / any_value(c.n)', 6)} AS g{k}_{j}"
            for k in range(K) for j in range(B + 1)
        )
        parts.append(f"""g{i} AS (
  SELECT {gcols}
  FROM s{i}, cnt c)""")
        wcols = ",\n         ".join(
            f"{sql_rnd(f'w.w{k}_{j} - {SMX_LR} * g.g{k}_{j}', 6)} AS w{k}_{j}"
            for k in range(K) for j in range(B + 1)
        )
        parts.append(f"""w{i} AS (
  SELECT {wcols}
  FROM w{i - 1} w, g{i} g)""")
    fecols = ", ".join(
        f"exp({sql_rnd(zexpr(k), 8)}) AS e{k}" for k in range(K))
    parts.append(f"""zf AS (
  SELECT f.doc_id, f.y, {fecols}
  FROM feat f, w{SMX_ITERS} w)""")
    fpcols = ", ".join(
        f"{sql_rnd(f'e{k} / ({esum})', 8)} AS pp{k}" for k in range(K))
    parts.append(f"""sf AS (
  SELECT doc_id, y, {fpcols}
  FROM zf)""")
    plist = "[" + ", ".join(f"pp{k}" for k in range(K)) + "]"
    out_p = ", ".join(f"{sql_rnd(f'pp{k}', 4)} AS p{k}" for k in range(K))
    return ("WITH " + ",\n".join(parts) + f"""
SELECT doc_id, y::BIGINT AS label, {out_p},
       (list_indexof({plist}, list_aggregate({plist}, 'max')) - 1)::BIGINT
         AS pred
FROM sf""")


SQL_Q204 = _sql_softmax()




# --------------------------------------------------------------------
# r12 wave 2: crawl-curation completeness — per-domain quotas, trap
# detection, markdown extraction, leakage-safe splits, the outlink
# graph (RefinedWeb §3.1 / Dolma §2's DOMAIN-level machinery)
# --------------------------------------------------------------------

DOMAIN_QUOTA = 20  # max docs kept per registrable domain


def q208_domain_quota(spark, sf_dir):
    """Per-domain document quota (RefinedWeb/Dolma both cap how much
    any one registrable domain contributes — without it, template
    farms dominate the mix): score every doc with the cheap quality
    signal (distinct-token ratio × log token count), rank within its
    domain, keep the top ``DOMAIN_QUOTA``; report per domain how many
    docs and what token mass the cap cuts. One URL-synth map + PSL
    broadcast joins, ONE domain-keyed rank window (the op IS
    per-domain ranking — skewed domains are exactly what the cap
    trims, and the window rows carry only (score, id)), one
    combinable agg. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    urls = docs.withColumn("url", _synth_url_expr())
    host = W.url_host(F.col("url"))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tok = F.size(toks)
    score = rnd(
        (F.size(F.array_distinct(toks)) / n_tok.cast("double"))
        * F.log(F.lit(1.0) + n_tok), 6)
    enr = W.attach_registrable_domain(
        urls.select(
            "doc_id",
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
            n_tok.cast("long").alias("n_tok"),
            score.alias("score"),
        ),
        F.col("_bare"),
    ).drop("_bare")
    w = Window.partitionBy("domain").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    ranked = enr.withColumn("_kept", F.row_number().over(w) <= DOMAIN_QUOTA)
    return ranked.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("_kept").cast("long")).cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(F.col("_kept").cast("long")))
        .cast("long").alias("n_dropped"),
        rnd(F.sum(F.when(F.col("_kept"), F.col("n_tok")).otherwise(0))
            / F.sum("n_tok").cast("double"), 4).alias("kept_token_frac"),
    )


_SQL_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_SQL_Q208_SCORE = sql_rnd(
    f"(len(list_distinct({_SQL_TOKS}))::DOUBLE / len({_SQL_TOKS}))"
    f" * ln(1.0 + len({_SQL_TOKS}))", 6)
_SQL_Q208_MASS = sql_rnd(
    f"sum(CASE WHEN rk <= {DOMAIN_QUOTA} THEN n_tok ELSE 0 END)::DOUBLE"
    " / sum(n_tok)", 4)

SQL_Q208 = f"""
WITH urls AS ({_SQL_SYNTH_URL}),
{_SQL_CANON_CTES},
scored AS (
  SELECT doc_id, domain,
         len({_SQL_TOKS})::BIGINT AS n_tok,
         {_SQL_Q208_SCORE} AS score
  FROM dom),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY domain ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored)
SELECT domain, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN rk <= {DOMAIN_QUOTA} THEN 1 ELSE 0 END)::BIGINT
         AS n_kept,
       (count(*) - sum(CASE WHEN rk <= {DOMAIN_QUOTA} THEN 1 ELSE 0 END))::BIGINT
         AS n_dropped,
       {_SQL_Q208_MASS} AS kept_token_frac
FROM ranked GROUP BY domain
"""


# trap-URL classification rules (canonical path/query; ``ref`` is a
# TRACKING param — already dropped by canonicalization — so the
# session rule keys on sessionid/sid/phpsessid only). RE2 ∩ Java
# subset, no brace quantifiers so the oracle f-strings stay plain.
TRAP_PAGE_PATH_RE = r"/page/[0-9]+($|/)"
TRAP_PAGE_QUERY_RE = r"(^|&)(p|page|start)=[0-9]+"
TRAP_CAL_PATH_RE = r"/(19|20)[0-9][0-9]/[0-9][0-9]?(/|$)"
TRAP_SESSION_QUERY_RE = r"(^|&)(sessionid|sid|phpsessid)="


# Domain-cardinality crawl frames shared with q217's frontier
# composition (which previously re-ran both chains per bench rep):
# one cached copy each of the trap audit (q209) and the outlink graph
# (q212). Bounded: one row per registrable domain.
@session_memo(_memo_trap_audit="trap", _memo_outlink_graph="graph")
def _crawl_domain_shared(spark, sf_dir, which: str) -> DataFrame:
    build = {"trap": _trap_audit_build, "graph": _outlink_graph_build}[which]
    return build(spark, sf_dir).cache()


def q209_crawl_trap_audit(spark, sf_dir):
    """Crawl-trap audit (every production crawler ships one —
    pagination chains, calendar archives, and session-id URL spaces
    are infinite and content-free; a frontier that cannot see them
    drowns): candidates are each doc's base URL plus planted trap
    variants (pagination on every 3rd doc, calendar archive on every
    5th, session id on every 4th — built from the doc's OWN
    scheme+host so the audit rolls up per real domain); the rules
    classify the CANONICAL path/query. Per domain: candidates,
    per-kind counts, trap rate — the table that sets per-domain
    frontier budgets. Map + PSL broadcast joins + one combinable
    agg. Fully value-hash oracled. Session-memoized since r12
    (``_crawl_domain_shared``) — q217 consumes the same table."""
    return _crawl_domain_shared(spark, sf_dir, "trap")


def _trap_audit_build(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    base = docs.withColumn("url", _synth_url_expr())
    prefix = F.regexp_extract(F.col("url"), r"^([A-Za-z]+://[^/?#]+)", 1)
    pagin = base.where(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(prefix, F.lit("/list/page/"),
                 (F.col("doc_id") % 9 + 2).cast("string")).alias("url"),
    )
    cal = base.where(F.col("doc_id") % 5 == 1).select(
        "doc_id",
        F.concat(prefix, F.lit("/archive/"),
                 (F.col("doc_id") % 15 + 2010).cast("string"),
                 F.lit("/"),
                 (F.col("doc_id") % 12 + 1).cast("string")).alias("url"),
    )
    sess = base.where(F.col("doc_id") % 4 == 2).select(
        "doc_id",
        F.concat(prefix, F.lit("/item/"),
                 F.col("doc_id").cast("string"),
                 F.lit("?sessionid=s"),
                 (F.col("doc_id") % 7).cast("string")).alias("url"),
    )
    cand = base.select("doc_id", "url").unionByName(pagin) \
        .unionByName(cal).unionByName(sess)
    host = W.url_host(F.col("url"))
    enr = W.attach_registrable_domain(
        cand.select(
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
            W.url_path(F.col("url")).alias("_path"),
            W.url_query_canonical(F.col("url")).alias("_q"),
        ),
        F.col("_bare"),
    ).drop("_bare")
    pg = F.col("_path").rlike(TRAP_PAGE_PATH_RE) \
        | F.col("_q").rlike(TRAP_PAGE_QUERY_RE)
    ca = F.col("_path").rlike(TRAP_CAL_PATH_RE)
    se = F.col("_q").rlike(TRAP_SESSION_QUERY_RE)
    return enr.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum(pg.cast("long")).cast("long").alias("n_pagination"),
        F.sum(ca.cast("long")).cast("long").alias("n_calendar"),
        F.sum(se.cast("long")).cast("long").alias("n_session"),
        F.sum((pg | ca | se).cast("long")).cast("long").alias("n_trap"),
        rnd(F.sum((pg | ca | se).cast("long"))
            / F.count(F.lit(1)).cast("double"), 4).alias("trap_rate"),
    )


_SQL_Q209_RATE = sql_rnd(
    "sum(CASE WHEN pg OR ca OR se THEN 1 ELSE 0 END)::DOUBLE / count(*)", 4)

SQL_Q209 = f"""
WITH base AS ({_SQL_SYNTH_URL}),
cand0 AS (
  SELECT doc_id, url FROM base
  UNION ALL
  SELECT doc_id, regexp_extract(url, '^([A-Za-z]+://[^/?#]+)', 1)
         || '/list/page/' || CAST(doc_id % 9 + 2 AS VARCHAR) AS url
  FROM base WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, regexp_extract(url, '^([A-Za-z]+://[^/?#]+)', 1)
         || '/archive/' || CAST(doc_id % 15 + 2010 AS VARCHAR)
         || '/' || CAST(doc_id % 12 + 1 AS VARCHAR) AS url
  FROM base WHERE doc_id % 5 = 1
  UNION ALL
  SELECT doc_id, regexp_extract(url, '^([A-Za-z]+://[^/?#]+)', 1)
         || '/item/' || CAST(doc_id AS VARCHAR)
         || '?sessionid=s' || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM base WHERE doc_id % 4 = 2),
urls AS (SELECT doc_id, url FROM cand0),
{_SQL_CANON_CTES},
flags AS (
  SELECT domain,
         (regexp_matches(path, '{TRAP_PAGE_PATH_RE}')
          OR regexp_matches(qc, '{TRAP_PAGE_QUERY_RE}')) AS pg,
         regexp_matches(path, '{TRAP_CAL_PATH_RE}') AS ca,
         regexp_matches(qc, '{TRAP_SESSION_QUERY_RE}') AS se
  FROM dom)
SELECT domain, count(*)::BIGINT AS n_urls,
       sum(CASE WHEN pg THEN 1 ELSE 0 END)::BIGINT AS n_pagination,
       sum(CASE WHEN ca THEN 1 ELSE 0 END)::BIGINT AS n_calendar,
       sum(CASE WHEN se THEN 1 ELSE 0 END)::BIGINT AS n_session,
       sum(CASE WHEN pg OR ca OR se THEN 1 ELSE 0 END)::BIGINT AS n_trap,
       {_SQL_Q209_RATE} AS trap_rate
FROM flags GROUP BY domain
"""


def _synth_md_expr():
    """Deterministic messy-markdown column wrapping ``documents.text``
    — the markdown twin of :func:`_synth_html_expr`, covering every
    extraction rule: an ATX header, the document text, a bullet
    list, a fenced code block, a link, an image, emphasis."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("# "), F.col("source"), F.lit(" report\n\n"),
        F.col("text"),
        F.lit("\n\n- item one\n- item two\n\n```\ncode "), did,
        F.lit("\n```\n\nsee [docs](https://"), F.col("source"),
        F.lit(".com/d/"), did,
        F.lit(") and ![logo](/img/"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".png) **bold** and _em_ end"),
    )


def q210_markdown_extract(spark, sf_dir):
    """Markdown → text extraction (functions/markdown.py — the
    stage-0 sibling of q203 for README/forum/wiki corpora): fenced
    code drops with its content, images keep alt text, links keep
    labels, header/bullet/emphasis markers strip, whitespace
    normalizes. Per doc: construct counts, extracted length and md5.
    Pure per-row regexp map — no shuffle, no explode. Fully
    value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pages = docs.withColumn("md", _synth_md_expr())
    out = MD.md_extract(pages, "md", "doc_id")
    return out.select(
        "doc_id", "n_code", "n_images", "n_links", "n_chars",
        F.md5("text").alias("text_md5"),
    )


SQL_Q210 = f"""
WITH pages AS (
  SELECT doc_id,
         '# ' || source || ' report' || chr(10) || chr(10) || text
         || chr(10) || chr(10) || '- item one' || chr(10) || '- item two'
         || chr(10) || chr(10) || '```' || chr(10) || 'code '
         || CAST(doc_id AS VARCHAR) || chr(10) || '```'
         || chr(10) || chr(10) || 'see [docs](https://' || source
         || '.com/d/' || CAST(doc_id AS VARCHAR) || ') and ![logo](/img/'
         || CAST(doc_id % 5 AS VARCHAR) || '.png) **bold** and _em_ end'
           AS md
  FROM documents),
c1 AS (
  SELECT doc_id, md,
         len(regexp_extract_all(md, '{MD.FENCE_RE}'))::BIGINT AS n_code,
         regexp_replace(md, '{MD.FENCE_RE}', ' ', 'g') AS s1
  FROM pages),
c2 AS (
  SELECT *, len(regexp_extract_all(s1, '{MD.IMAGE_RE}'))::BIGINT AS n_images,
         regexp_replace(s1, '{MD.IMAGE_RE}', '\\1', 'g') AS s2
  FROM c1),
c3 AS (
  SELECT *, len(regexp_extract_all(s2, '{MD.LINK_RE}'))::BIGINT AS n_links,
         regexp_replace(s2, '{MD.LINK_RE}', '\\1', 'g') AS s3
  FROM c2),
c4 AS (
  SELECT *, trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(s3, '{MD.HEADER_RE}', '', 'g'),
               '{MD.BULLET_RE}', '', 'g'),
             '{MD.EMPHASIS_RE}', '', 'g'),
           '\\s+', ' ', 'g')) AS txt
  FROM c3)
SELECT doc_id, n_code, n_images, n_links,
       length(txt)::BIGINT AS n_chars, md5(txt) AS text_md5
FROM c4
"""


SPLIT_MIRROR_OFFSET = 4_000_000


def q211_domain_split_leakage(spark, sf_dir):
    """Split-leakage audit, doc-keyed vs domain-keyed (why serious
    pipelines split train/val/test BY REGISTRABLE DOMAIN: a doc-id
    hash split puts pages of the same site on both sides of the eval
    boundary): the corpus is every doc plus a cross-domain MIRROR of
    every 7th doc (same text on mirror-<source>.net — the q201
    plant). Both schemes assign splits with the engine-portable
    multiplicative hash (q43's contract; the domain scheme hashes
    the domain's 32-bit md5 fingerprint). Per scheme: split sizes,
    domains straddling >1 split (domain scheme: ZERO by
    construction), and exact-text groups leaking across splits —
    nonzero under BOTH schemes thanks to the mirrors, which is the
    point: domain splitting fixes same-site leakage, only text-level
    decontamination (q62/q92) catches mirrors. Fully value-hash
    oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    base = docs.withColumn("url", _synth_url_expr())
    mirror = base.where(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + SPLIT_MIRROR_OFFSET).alias("doc_id"),
        "source", "text",
        F.concat(F.lit("https://mirror-"), F.col("source"),
                 F.lit(".net/copy/"),
                 (F.col("doc_id") % 1000).cast("string")).alias("url"),
    )
    crawl = base.unionByName(mirror)
    host = W.url_host(F.col("url"))
    enr = W.attach_registrable_domain(
        crawl.select(
            "doc_id", F.md5("text").alias("h"),
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
        ),
        F.col("_bare"),
    ).drop("_bare")

    def split_col(bucket):
        return (
            F.when(bucket < SPLIT_WEIGHTS["train"], F.lit("train"))
            .when(bucket < SPLIT_WEIGHTS["train"] + SPLIT_WEIGHTS["val"],
                  F.lit("val"))
            .otherwise(F.lit("test"))
        )

    # narrow (doc_id, h, domain, 2 splits) cache (r12, guide §1.2):
    # six aggregation branches below (2 schemes × sizes/straddle/leak)
    # each re-ran the URL-synth + canonicalization + PSL-join + md5
    # chain — 6 corpus passes for one ~50-byte/doc spine
    both = enr.select(
        "doc_id", "h", "domain",
        split_col(shard_hash(F.col("doc_id"), 100)).alias("by_doc"),
        split_col(shard_hash(D.fp32_expr(F.col("domain")), 100))
        .alias("by_domain"),
    ).cache()
    frames = []
    for scheme in ("by_doc", "by_domain"):
        s = F.col(scheme)
        sizes = both.agg(
            F.sum((s == "train").cast("long")).cast("long").alias("n_train"),
            F.sum((s == "val").cast("long")).cast("long").alias("n_val"),
            F.sum((s == "test").cast("long")).cast("long").alias("n_test"),
        ).select(F.lit(scheme).alias("scheme"), "*")
        straddle = (
            both.groupBy("domain")
            .agg(F.countDistinct(scheme).alias("ns"))
            .agg(F.sum((F.col("ns") > 1).cast("long")).cast("long")
                 .alias("straddling_domains"))
        )
        leak = (
            both.groupBy("h")
            .agg(F.countDistinct(scheme).alias("ns"))
            .agg(F.sum((F.col("ns") > 1).cast("long")).cast("long")
                 .alias("leaking_text_groups"))
        )
        frames.append(sizes.crossJoin(straddle).crossJoin(leak))
    out = frames[0].unionByName(frames[1])
    out._cached_inputs = [both]  # see functions.dedup.release
    return out


_SQL_DOC_BUCKET = "((doc_id % 1000003) * 2654435761 % 100 + 100) % 100"
_SQL_DOM_BUCKET = ("((('0x' || substr(md5(domain), 1, 8))::BIGINT % 1000003)"
                   " * 2654435761 % 100 + 100) % 100")

SQL_Q211 = f"""
WITH base AS ({_SQL_SYNTH_URL}),
crawl AS (
  SELECT doc_id, text, url FROM base
  UNION ALL
  SELECT doc_id + {SPLIT_MIRROR_OFFSET} AS doc_id, text,
         'https://mirror-' || source || '.net/copy/'
         || CAST(doc_id % 1000 AS VARCHAR) AS url
  FROM base WHERE doc_id % 7 = 1),
urls AS (SELECT doc_id, text, url FROM crawl),
{_SQL_CANON_CTES},
keyed AS (
  SELECT doc_id, md5(text) AS h, domain,
         {_SQL_DOC_BUCKET} AS bd, {_SQL_DOM_BUCKET} AS bm
  FROM dom),
assigned AS (
  SELECT doc_id, h, domain,
         CASE WHEN bd < 80 THEN 'train' WHEN bd < 90 THEN 'val'
              ELSE 'test' END AS by_doc,
         CASE WHEN bm < 80 THEN 'train' WHEN bm < 90 THEN 'val'
              ELSE 'test' END AS by_domain
  FROM keyed),
u AS (
  SELECT 'by_doc' AS scheme, by_doc AS split, h, domain FROM assigned
  UNION ALL
  SELECT 'by_domain' AS scheme, by_domain AS split, h, domain
  FROM assigned),
sizes AS (
  SELECT scheme,
         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT
           AS n_train,
         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val,
         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT AS n_test
  FROM u GROUP BY scheme),
str_ AS (
  SELECT scheme, sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)::BIGINT
           AS straddling_domains
  FROM (SELECT scheme, domain, count(DISTINCT split) AS ns
        FROM u GROUP BY scheme, domain) GROUP BY scheme),
lk AS (
  SELECT scheme, sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)::BIGINT
           AS leaking_text_groups
  FROM (SELECT scheme, h, count(DISTINCT split) AS ns
        FROM u GROUP BY scheme, h) GROUP BY scheme)
SELECT s.scheme, s.n_train, s.n_val, s.n_test,
       str_.straddling_domains, lk.leaking_text_groups
FROM sizes s JOIN str_ USING (scheme) JOIN lk USING (scheme)
"""


HREF_RE = r'(?i)<a\s[^>]*href="([^"]+)"'
OUTLINK_OFFSET = 10_000_000


def _outlink_frag():
    """Planted ABSOLUTE cross-domain anchors (the synth chrome's own
    anchors are all relative = same-domain): a "ref" link on every
    page targeting the BASE srcK.net domains (so the link graph's
    authority mass lands on domains q209's trap audit also covers —
    q217 composes the two), and a sparser "partner" link (every 4th
    page) onto the srcK.co.uk family the corpus itself never hosts —
    frontier DISCOVERY targets."""
    ref = F.concat(
        F.lit('<p>see <a href="https://cdn.src'),
        ((F.col("doc_id") * 3) % 20).cast("string"),
        F.lit(".net/r/"), F.col("doc_id").cast("string"),
        F.lit('">ref</a>'),
    )
    partner = F.when(
        F.col("doc_id") % 4 == 1,
        F.concat(
            F.lit(' and <a href="HTTP://www.src'),
            ((F.col("doc_id") * 7 + 1) % 20).cast("string"),
            F.lit('.co.uk/p">partner</a>'),
        ),
    ).otherwise(F.lit(""))
    return F.concat(ref, partner, F.lit("</p>"))


def q212_outlink_graph(spark, sf_dir):
    """Outlink extraction + domain-level link graph (the crawl
    frontier's prioritization input — RefinedWeb seeds from link
    structure; q158 pageranks a dup graph, THIS builds the real
    hyperlink one): hrefs come out of the raw markup in one regexp
    pass, relative links resolve to the page's own domain, absolute
    links canonicalize through the same PSL chain as every URL op.
    Per TARGET domain: in-links, distinct referring domains,
    external in-links — the in-degree table a frontier ranks by.
    One href-explode (bounded: links-per-page is a page-format
    constant, not corpus-scale), PSL broadcast joins, one combinable
    agg. Fully value-hash oracled. Session-memoized since r12
    (``_crawl_domain_shared``) — q217 consumes the same table."""
    return _crawl_domain_shared(spark, sf_dir, "graph")


def _outlink_graph_build(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    own = W.attach_registrable_domain(
        docs.withColumn("url", _synth_url_expr()).select(
            "doc_id", "source", "text",
            F.regexp_replace(W.url_host(F.col("url")), r":[0-9]+$", "")
            .alias("_bare"),
        ),
        F.col("_bare"), "src_domain",
    ).drop("_bare")
    pages = own.withColumn(
        "html", F.concat(_synth_html_expr(), _outlink_frag()))
    hrefs = pages.select(
        "doc_id", "src_domain",
        F.explode(F.regexp_extract_all(F.col("html"), F.lit(HREF_RE), 1))
        .alias("href"),
    )
    dst_host = F.regexp_replace(W.url_host(F.col("href")), r":[0-9]+$", "")
    edges = W.attach_registrable_domain(
        hrefs.withColumn(
            "_dst_bare",
            F.when(F.col("href").startswith("/"), F.lit(""))
            .otherwise(dst_host),
        ),
        F.col("_dst_bare"), "_dst_abs",
    ).select(
        "src_domain",
        F.when(F.col("href").startswith("/"), F.col("src_domain"))
        .otherwise(F.col("_dst_abs")).alias("dst_domain"),
    )
    return edges.groupBy("dst_domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_in"),
        F.countDistinct("src_domain").cast("long").alias("n_referrers"),
        F.sum((F.col("src_domain") != F.col("dst_domain")).cast("long"))
        .cast("long").alias("n_external"),
    )


SQL_Q212 = f"""
WITH pages0 AS ({_SQL_SYNTH_HTML}),
own0 AS ({_SQL_SYNTH_URL}),
pages AS (
  SELECT p.doc_id,
         p.html || '<p>see <a href="https://cdn.src'
         || CAST((p.doc_id * 3) % 20 AS VARCHAR)
         || '.net/r/' || CAST(p.doc_id AS VARCHAR)
         || '">ref</a>'
         || CASE WHEN p.doc_id % 4 = 1
                 THEN ' and <a href="HTTP://www.src'
                      || CAST((p.doc_id * 7 + 1) % 20 AS VARCHAR)
                      || '.co.uk/p">partner</a>'
                 ELSE '' END
         || '</p>' AS html
  FROM pages0 p),
hr AS (
  SELECT doc_id, unnest(regexp_extract_all(html, '{HREF_RE}', 1)) AS href
  FROM pages),
urls AS (
  SELECT doc_id, url FROM own0
  UNION ALL
  SELECT doc_id + {OUTLINK_OFFSET} AS doc_id, href AS url
  FROM hr WHERE href NOT LIKE '/%'),
{_SQL_CANON_CTES},
own AS (SELECT doc_id, domain FROM dom WHERE doc_id < {OUTLINK_OFFSET}),
abs_ AS (SELECT doc_id - {OUTLINK_OFFSET} AS doc_id, url AS href, domain
         FROM dom WHERE doc_id >= {OUTLINK_OFFSET}),
edges AS (
  SELECT o.domain AS src_domain,
         CASE WHEN h.href LIKE '/%' THEN o.domain ELSE a.domain END
           AS dst_domain
  FROM hr h
  JOIN own o USING (doc_id)
  LEFT JOIN abs_ a ON a.doc_id = h.doc_id AND a.href = h.href)
SELECT dst_domain, count(*)::BIGINT AS n_in,
       count(DISTINCT src_domain)::BIGINT AS n_referrers,
       sum(CASE WHEN src_domain <> dst_domain THEN 1 ELSE 0 END)::BIGINT
         AS n_external
FROM edges GROUP BY dst_domain
"""



# --------------------------------------------------------------------
# r12 wave 3: robots semantics, CCNet line dedup, WARC headers,
# mojibake audit, frontier prioritization
# --------------------------------------------------------------------

# synthetic per-domain robots rules (REAL longest-match semantics —
# the q205 policy table's hash slice models the VERDICT, this models
# the RULES): every domain disallows /p; domains whose md5 leads
# 0-7 also disallow /docs; every domain carries an allow override
# for /docs/1 (longest matching prefix wins; allow wins ties; no
# match = allow — the Google robots.txt algorithm)
ROBOTS_DIS_ALL = "/p"
ROBOTS_DIS_HALF = "/docs"
ROBOTS_ALLOW = "/docs/1"
ROBOTS_HALF_HEX = tuple("01234567")


def q213_robots_rules(spark, sf_dir):
    """Robots.txt rule evaluation with longest-match semantics (the
    crawl gate q205's policy table abstracts away: real robots files
    are PREFIX RULES, and allow-overrides beat shorter disallows):
    a broadcast rules table (domain-cardinality × ≤3 rules) joins
    the canonical URL frame; per URL the prevailing rule is the
    longest matching prefix with allow winning ties, encoded as one
    integer priority (2·prefix_len + is_allow) so the max is a plain
    combinable agg in BOTH engines. Per domain: URLs, blocked,
    allow-overridden (a disallow matched but a longer allow
    prevailed), block rate. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    urls0 = docs.withColumn("url", _synth_url_expr())
    host = W.url_host(F.col("url"))
    urls = W.attach_registrable_domain(
        urls0.select(
            "doc_id",
            F.regexp_replace(host, r":[0-9]+$", "").alias("_bare"),
            W.url_path(F.col("url")).alias("path"),
        ),
        F.col("_bare"),
    ).drop("_bare")
    half = F.substring(F.md5("domain"), 1, 1).isin(*ROBOTS_HALF_HEX)
    rules = (
        urls.select("domain").distinct()
        .select(
            "domain",
            F.explode(F.array(
                F.struct(F.lit("disallow").alias("t"),
                         F.lit(ROBOTS_DIS_ALL).alias("p")),
                F.struct(F.lit("disallow").alias("t"),
                         F.when(half, F.lit(ROBOTS_DIS_HALF)).alias("p")),
                F.struct(F.lit("allow").alias("t"),
                         F.lit(ROBOTS_ALLOW).alias("p")),
            )).alias("r"),
        )
        .select("domain", F.col("r.t").alias("t"), F.col("r.p").alias("p"))
        .where(F.col("p").isNotNull())
    )
    j = urls.join(F.broadcast(rules), "domain", "left")
    m = F.col("p").isNotNull() & F.col("path").startswith(F.col("p"))
    prio = F.when(
        m, F.length("p") * 2 + (F.col("t") == "allow").cast("int")
    ).otherwise(F.lit(-1))
    per = j.groupBy("doc_id", "domain").agg(
        F.max(prio).alias("mx"),
        F.max((m & (F.col("t") == "disallow")).cast("int")).alias("dm"),
    )
    blocked = (F.col("mx") >= 0) & (F.col("mx") % 2 == 0)
    override = (F.col("dm") == 1) & ~blocked
    return per.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum(blocked.cast("long")).cast("long").alias("n_blocked"),
        F.sum(override.cast("long")).cast("long").alias("n_override"),
        rnd(F.sum(blocked.cast("long"))
            / F.count(F.lit(1)).cast("double"), 4).alias("block_rate"),
    )


_SQL_Q213_RATE = sql_rnd(
    "sum(CASE WHEN blocked THEN 1 ELSE 0 END)::DOUBLE / count(*)", 4)

SQL_Q213 = f"""
WITH urls AS ({_SQL_SYNTH_URL}),
{_SQL_CANON_CTES},
rdoms AS (SELECT DISTINCT domain FROM dom),
rules AS (
  SELECT domain, 'disallow' AS t, '{ROBOTS_DIS_ALL}' AS p FROM rdoms
  UNION ALL
  SELECT domain, 'disallow', '{ROBOTS_DIS_HALF}' FROM rdoms
  WHERE substr(md5(domain), 1, 1) IN ({", ".join(f"'{h}'" for h in ROBOTS_HALF_HEX)})
  UNION ALL
  SELECT domain, 'allow', '{ROBOTS_ALLOW}' FROM rdoms),
j AS (
  SELECT u.doc_id, u.domain,
         CASE WHEN r.p IS NOT NULL AND u.path LIKE r.p || '%'
              THEN length(r.p) * 2
                   + CASE WHEN r.t = 'allow' THEN 1 ELSE 0 END
              ELSE -1 END AS prio,
         CASE WHEN r.p IS NOT NULL AND u.path LIKE r.p || '%'
                   AND r.t = 'disallow' THEN 1 ELSE 0 END AS dmm
  FROM (SELECT doc_id, domain, path FROM dom) u
  LEFT JOIN rules r USING (domain)),
per AS (
  SELECT doc_id, domain, max(prio) AS mx, max(dmm) AS dm
  FROM j GROUP BY doc_id, domain),
v AS (
  SELECT domain, (mx >= 0 AND mx % 2 = 0) AS blocked,
         (dm = 1 AND NOT (mx >= 0 AND mx % 2 = 0)) AS override
  FROM per)
SELECT domain, count(*)::BIGINT AS n_urls,
       sum(CASE WHEN blocked THEN 1 ELSE 0 END)::BIGINT AS n_blocked,
       sum(CASE WHEN override THEN 1 ELSE 0 END)::BIGINT AS n_override,
       {_SQL_Q213_RATE} AS block_rate
FROM v GROUP BY domain
"""


# planted template lines for the line-dedup gate (every 2nd / every
# 3rd doc — classic footer/subscribe chrome), plus each doc's own
# unique line
LINE_FOOTER = "all rights reserved - do not reproduce"
LINE_PROMO = "subscribe to our newsletter today"


def _synth_lines_expr():
    footer = F.when(F.col("doc_id") % 2 == 0,
                    F.lit("\n" + LINE_FOOTER)).otherwise(F.lit(""))
    promo = F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\n" + LINE_PROMO)).otherwise(F.lit(""))
    return F.concat(
        F.col("text"),
        F.lit("\nref code "), F.col("doc_id").cast("string"),
        footer, promo,
    )


def q214_line_dedup(spark, sf_dir):
    """LINE-level exact dedup, keep-first (functions/dedup.py:
    line_dedup — CCNet §3.1 / Dolma's paragraph dedup: the cut that
    removes per-LINE template chrome corpus-wide while each page's
    unique remainder survives; q94 cuts fixed word windows, q207
    cuts markup blocks, THIS cuts the newline-delimited unit web
    text actually repeats in). The gate corpus appends a footer line
    to every 2nd doc, a promo line to every 3rd, and a unique ref
    line to each. Per doc: lines, cut lines, surviving chars, md5 of
    the reassembled text. One explode + one md5-keyed combinable
    first-key agg + one join + one per-doc rebuild. Fully value-hash
    oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    lined = docs.select(
        "doc_id", _synth_lines_expr().alias("text"))
    out = D.line_dedup(lined, "text", "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"), "n_lines", "n_cut",
        F.length("clean_text").cast("long").alias("kept_chars"),
        F.md5("clean_text").alias("clean_md5"),
    )


SQL_Q214 = f"""
WITH lined AS (
  SELECT doc_id,
         text || chr(10) || 'ref code ' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || '{LINE_FOOTER}' ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || '{LINE_PROMO}' ELSE '' END AS text
  FROM documents),
lines0 AS (
  SELECT doc, unnest(list_transform(range(1, len(l) + 1),
           i -> struct_pack(pos := i - 1, line := trim(l[i])))) AS s
  FROM (SELECT doc_id AS doc, string_split(text, chr(10)) AS l
        FROM lined)),
lines AS (
  SELECT doc, s.pos AS pos, s.line AS line, md5(s.line) AS h
  FROM lines0 WHERE s.line <> ''),
first_ AS (
  SELECT h, min(struct_pack(doc := doc, pos := pos)) AS f
  FROM lines GROUP BY h),
kept AS (
  SELECT l.doc, l.pos, l.line,
         (l.doc = f.f.doc AND l.pos = f.f.pos) AS keep_
  FROM lines l JOIN first_ f USING (h))
SELECT doc AS doc_id, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN keep_ THEN 0 ELSE 1 END)::BIGINT AS n_cut,
       length(coalesce(string_agg(CASE WHEN keep_ THEN line END, chr(10)
                                  ORDER BY pos), ''))::BIGINT AS kept_chars,
       md5(coalesce(string_agg(CASE WHEN keep_ THEN line END, chr(10)
                               ORDER BY pos), '')) AS clean_md5
FROM kept GROUP BY doc
"""


def q215_warc_headers(spark, sf_dir):
    """WARC record-header parsing (stage MINUS-one: before any text
    op, a pipeline reads the crawl archive itself — WARC/1.0 header
    blocks with typed fields): one regexp pass per field over the
    synthesized record head, then the archive datasheet — records,
    byte mass, distinct capture days per (record type, content
    type). Pure per-row map + one combinable agg. Fully value-hash
    oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    wtype = F.when(F.col("doc_id") % 10 == 0, F.lit("request")) \
        .otherwise(F.lit("response"))
    ct = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("text/html"))
        .when(F.col("doc_id") % 4 == 1, F.lit("text/plain"))
        .when(F.col("doc_id") % 4 == 2, F.lit("application/pdf"))
        .otherwise(F.lit("image/jpeg"))
    )
    rec = F.concat(
        F.lit("WARC/1.0\nWARC-Type: "), wtype,
        F.lit("\nWARC-Target-URI: https://"), F.col("source"),
        F.lit(".com/d/"), F.col("doc_id").cast("string"),
        F.lit("\nContent-Type: "), ct,
        F.lit("\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\nWARC-Date: 2026-0"),
        (F.col("doc_id") % 9 + 1).cast("string"), F.lit("-15"),
    )
    hdr = docs.select(F.col("doc_id"), rec.alias("rec"))
    fld = lambda name: F.regexp_extract(  # noqa: E731
        F.col("rec"), r"(?m)^" + name + r": (.*)$", 1)
    parsed = hdr.select(
        fld("WARC-Type").alias("warc_type"),
        fld("Content-Type").alias("content_type"),
        fld("Content-Length").cast("long").alias("n_bytes"),
        fld("WARC-Date").alias("day"),
    )
    return parsed.groupBy("warc_type", "content_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )


SQL_Q215 = """
WITH hdr AS (
  SELECT doc_id,
         'WARC/1.0' || chr(10) || 'WARC-Type: '
         || (CASE WHEN doc_id % 10 = 0 THEN 'request' ELSE 'response' END)
         || chr(10) || 'WARC-Target-URI: https://' || source || '.com/d/'
         || CAST(doc_id AS VARCHAR)
         || chr(10) || 'Content-Type: '
         || (CASE doc_id % 4 WHEN 0 THEN 'text/html'
                             WHEN 1 THEN 'text/plain'
                             WHEN 2 THEN 'application/pdf'
                             ELSE 'image/jpeg' END)
         || chr(10) || 'Content-Length: ' || CAST(length(text) AS VARCHAR)
         || chr(10) || 'WARC-Date: 2026-0'
         || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15' AS rec
  FROM documents),
parsed AS (
  SELECT regexp_extract(rec, '(?m)^WARC-Type: (.*)$', 1) AS warc_type,
         regexp_extract(rec, '(?m)^Content-Type: (.*)$', 1) AS content_type,
         CAST(regexp_extract(rec, '(?m)^Content-Length: (.*)$', 1) AS BIGINT)
           AS n_bytes,
         regexp_extract(rec, '(?m)^WARC-Date: (.*)$', 1) AS day
  FROM hdr)
SELECT warc_type, content_type, count(*)::BIGINT AS n_records,
       sum(n_bytes)::BIGINT AS total_bytes,
       count(DISTINCT day)::BIGINT AS n_days
FROM parsed GROUP BY warc_type, content_type
"""


# the classic UTF-8-read-as-latin1 artifacts (curation pipelines
# screen for them; CCNet's lang-id scores crater on mojibake)
MOJIBAKE_MARKER_RE = "Ã|â€|Â"
MOJIBAKE_PLANT = " cafÃ© donâ€™t Â rate"


def q216_mojibake_audit(spark, sf_dir):
    """Encoding-damage (mojibake) audit: count the classic
    double-encoding artifact sequences (Ã-, â€-, Â-led bytes — what
    UTF-8 read as Latin-1 produces) per document, roll up per
    source: affected docs, marker mass, affect rate. The gate plants
    the artifacts on every 13th doc. One regexp map + one combinable
    agg; the screen a pipeline runs BEFORE trusting lang-id or
    quality scores. Fully value-hash oracled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t2 = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.col("text"), F.lit(MOJIBAKE_PLANT)),
    ).otherwise(F.col("text"))
    n_mark = F.size(
        F.regexp_extract_all(t2, F.lit(MOJIBAKE_MARKER_RE), 0))
    per = docs.select(
        "source", n_mark.cast("long").alias("nm"))
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("nm") > 0).cast("long")).cast("long")
        .alias("n_affected"),
        F.sum("nm").cast("long").alias("n_markers"),
        rnd(F.sum((F.col("nm") > 0).cast("long"))
            / F.count(F.lit(1)).cast("double"), 4).alias("affect_rate"),
    )


_SQL_Q216_RATE = sql_rnd(
    "sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*)", 4)

SQL_Q216 = f"""
WITH t AS (
  SELECT source,
         len(regexp_extract_all(
           CASE WHEN doc_id % 13 = 0 THEN text || '{MOJIBAKE_PLANT}'
                ELSE text END,
           '{MOJIBAKE_MARKER_RE}'))::BIGINT AS nm
  FROM documents)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END)::BIGINT AS n_affected,
       sum(nm)::BIGINT AS n_markers,
       {_SQL_Q216_RATE} AS affect_rate
FROM t GROUP BY source
"""


FRONTIER_TOP = 15


def q217_frontier_priority(spark, sf_dir):
    """Crawl-frontier prioritization — the COMPOSED table the wave's
    pieces exist for (what OPIC/backlink frontier scheduling does
    with exactly these inputs): q212's link graph supplies authority
    (external in-links), q209's trap audit supplies the waste
    discount, q205's policy rule gates robots/blocklist; score =
    ln(1 + external in-links) × (1 − trap rate) over allowed
    domains, ranked, top ``FRONTIER_TOP``. Three domain-cardinality
    frames joined (all broadcast-sized), one rank window over the
    domain universe. Fully value-hash oracled."""
    g = q212_outlink_graph(spark, sf_dir)
    t = q209_crawl_trap_audit(spark, sf_dir).select(
        F.col("domain").alias("dst_domain"), "trap_rate")
    j = g.join(F.broadcast(t), "dst_domain", "left")
    status, _lic = _policy_cols(F.col("dst_domain"))
    scored = j.select(
        F.col("dst_domain").alias("domain"),
        "n_in", "n_external",
        F.coalesce("trap_rate", F.lit(0.0)).alias("trap_rate"),
        status.alias("status"),
    ).where(F.col("status") == "allow").select(
        "domain", "n_in", "n_external", "trap_rate",
        rnd(F.log(F.lit(1.0) + F.col("n_external"))
            * (F.lit(1.0) - F.col("trap_rate")), 6).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("domain").asc())
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= FRONTIER_TOP)


def _sql_q217() -> str:
    status, _lic = _sql_policy_case()
    score = sql_rnd("ln(1.0 + n_external) * (1.0 - trap_rate)", 6)
    return f"""
WITH g AS ({SQL_Q212}),
t AS ({SQL_Q209}),
j AS (
  SELECT g.dst_domain AS domain, g.n_in, g.n_external,
         coalesce(t.trap_rate, 0.0) AS trap_rate
  FROM g LEFT JOIN t ON t.domain = g.dst_domain),
allowed AS (
  SELECT *, {score} AS score FROM j
  WHERE ({status}) = 'allow'),
ranked AS (
  SELECT domain, n_in, n_external, trap_rate, score,
         row_number() OVER (ORDER BY score DESC, domain ASC)::BIGINT
           AS rank
  FROM allowed)
SELECT * FROM ranked WHERE rank <= {FRONTIER_TOP}
"""


SQL_Q217 = _sql_q217()



# key -> (spark callable, oracle SQL)
#
# Every key has a DuckDB oracle, and tests/test_oracle_parity.py
# checks each key's values against it. The insertion order is
# historical and kept unchanged: bench.py, tools/check_oracle.py and
# the oracle tests all walk the keys in this order.
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q104_quality_classifier": (q104_quality_classifier, SQL_Q104),
    "q111_edit_dup_pairs": (q111_edit_dup_pairs, SQL_Q111),
    "q72_kmeans_twin": (q72_kmeans_twin, SQL_Q72),
    "q82_semdedup": (q82_semdedup, SQL_Q82),
    "q34_cosine_dup": (q34_cosine_dup, SQL_Q34),
    "q120_classifier_calibration": (q120_classifier_calibration, SQL_Q120),
    "q122_decontaminate_spans": (q122_decontaminate_spans, SQL_Q122),
    "q123_doremi_weights": (q123_doremi_weights, SQL_Q123),
    "q128_ngram_novelty": (q128_ngram_novelty, SQL_Q128),
    "q130_hashed_gram_classifier": (q130_hashed_gram_classifier, SQL_Q130),
    "q132_source_risk_report": (q132_source_risk_report, SQL_Q132),
    "q133_source_perplexity": (q133_source_perplexity, SQL_Q133),
    "q142_ivf_recall": (q142_ivf_recall, SQL_Q142),
    "q146_proto_prune": (q146_proto_prune, SQL_Q146),
    "q151_cluster_silhouette": (q151_cluster_silhouette, SQL_Q151),
    "q158_dup_pagerank": (q158_dup_pagerank, SQL_Q158),
    "q161_classifier_auc": (q161_classifier_auc, SQL_Q161),
    "q168_filter_agreement": (q168_filter_agreement, SQL_Q168),
    "q174_threshold_sweep": (q174_threshold_sweep, SQL_Q174),
    "q194_ann_ndcg_audit": (q194_ann_ndcg_audit, SQL_Q194),
    "q200_doc_containment": (q200_doc_containment, SQL_Q200),
    "q204_softmax_classifier": (q204_softmax_classifier, SQL_Q204),
    "q31_dedup_minhash": (q31_dedup_minhash, SQL_Q31),
    "q33_ngram_jaccard": (q33_ngram_jaccard, SQL_Q33),
    "q35_ann_topk": (q35_ann_topk, SQL_Q35),
    "q51_minhash_twin_recall": (q51_minhash_twin_recall, SQL_Q51),
    "q56_lsh_jaccard": (q56_lsh_jaccard, SQL_Q33),
    "q78_dup_rate_by_source": (q78_dup_rate_by_source, SQL_Q78),
    "q79_winnow_fingerprints": (q79_winnow_fingerprints, SQL_Q79),
    "q80_winnow_twin_overlap": (q80_winnow_twin_overlap, SQL_Q80),
    "q81_decontaminate_winnow": (q81_decontaminate_winnow, SQL_Q81),
    "q84_unigram_logprob": (q84_unigram_logprob, SQL_Q84),
    "q85_curation_funnel": (q85_curation_funnel, SQL_Q85),
    "q86_cluster_profile": (q86_cluster_profile, SQL_Q86),
    "q87_perplexity_buckets": (q87_perplexity_buckets, SQL_Q87),
    "q89_source_diversity": (q89_source_diversity, SQL_Q89),
    "q92_eval_containment": (q92_eval_containment, SQL_Q92),
    "q95_bigram_logprob": (q95_bigram_logprob, SQL_Q95),
    "q94_passage_dedup": (q94_passage_dedup, SQL_Q94),
    "q96_dedup_keep_best": (q96_dedup_keep_best, SQL_Q96),
    "q149_soft_dedup": (q149_soft_dedup, SQL_Q149),
    "q192_passage_near_dups": (q192_passage_near_dups, SQL_Q192),
    "q107_span_dedup_apply": (q107_span_dedup_apply, SQL_Q107),
    "q201_curation_funnel_v2": (q201_curation_funnel_v2, SQL_Q201),
    "q75_quantize_embeddings": (q75_quantize_embeddings, SQL_Q75),
    "q117_image_dup_pairs": (q117_image_dup_pairs, SQL_Q117),
    "q36_ann_lsh": (q36_ann_lsh, SQL_Q36),
    "q50_sketch_stats": (q50_sketch_stats, SQL_Q50),
    "q90_bpe_merges": (q90_bpe_merges, SQL_Q90),
    "q01_pricing_summary": (q01_pricing_summary, SQL_Q01),
    "q02_describe_stats": (q02_describe_stats, SQL_Q02),
    "q03_percentiles": (q03_percentiles, SQL_Q03),
    "q06_pivot_wide": (q06_pivot_wide, SQL_Q06),
    "q09_device_filter": (q09_device_filter, SQL_Q09),
    "q10_resample": (q10_resample, SQL_Q10),
    "q11_minmax_argmax": (q11_minmax_argmax, SQL_Q11),
    "q12_restart_insert": (q12_restart_insert, SQL_Q12),
    "q13_intersect_headers": (q13_intersect_headers, SQL_Q13),
    "q14_multifile_describe": (q14_multifile_describe, SQL_Q14),
    "q15_global_range": (q15_global_range, SQL_Q15),
    "q16_alias_join": (q16_alias_join, SQL_Q16),
    "q17_join_rollup": (q17_join_rollup, SQL_Q17),
    "q18_topk": (q18_topk, SQL_Q18),
    "q19_correlation": (q19_correlation, SQL_Q19),
    "q20_outliers": (q20_outliers, SQL_Q20),
    "q21_gap_detect": (q21_gap_detect, SQL_Q21),
    "q22_hourly_profile": (q22_hourly_profile, SQL_Q22),
    "q23_rolling_avg": (q23_rolling_avg, SQL_Q23),
    "q24_running_sum": (q24_running_sum, SQL_Q24),
    "q25_asof_join": (q25_asof_join, SQL_Q25),
    "q26_sessionize": (q26_sessionize, SQL_Q26),
    "q27_salted_agg": (q27_salted_agg, SQL_Q27),
    "q30_dedup_exact": (q30_dedup_exact, SQL_Q30),
    "q74_shard_manifest": (q74_shard_manifest, SQL_Q74),
    "q77_ann_lsh_parity": (q77_ann_lsh_parity, SQL_Q35),
    "q88_bloom_membership": (q88_bloom_membership, SQL_Q88),
    "q93_temperature_mix": (q93_temperature_mix, SQL_Q93),
    "q32_dedup_simhash": (q32_dedup_simhash, SQL_Q32),
    "q136_count_min": (q136_count_min, SQL_Q136),
    "q137_boilerplate_cut": (q137_boilerplate_cut, SQL_Q137),
    "q138_trend_fit": (q138_trend_fit, SQL_Q138),
    "q140_mad_outliers": (q140_mad_outliers, SQL_Q140),
    "q141_moments_merge": (q141_moments_merge, SQL_Q141),
    "q147_capacity_forecast": (q147_capacity_forecast, SQL_Q147),
    "q148_lag_correlation": (q148_lag_correlation, SQL_Q148),
    "q152_budget_allocation": (q152_budget_allocation, SQL_Q152),
    "q153_word_entropy": (q153_word_entropy, SQL_Q153),
    "q155_jl_distortion": (q155_jl_distortion, SQL_Q155),
    "q156_media_inventory": (q156_media_inventory, SQL_Q156),
    "q157_anomaly_ensemble": (q157_anomaly_ensemble, SQL_Q157),
    "q159_packing_report": (q159_packing_report, SQL_Q159),
    "q160_ks_drift": (q160_ks_drift, SQL_Q160),
    "q162_hourly_bands": (q162_hourly_bands, SQL_Q162),
    "q163_heaps_law": (q163_heaps_law, SQL_Q163),
    "q164_embedding_card": (q164_embedding_card, SQL_Q164),
    "q165_bigram_entropy": (q165_bigram_entropy, SQL_Q165),
    "q166_coverage_curve": (q166_coverage_curve, SQL_Q166),
    "q167_curriculum_order": (q167_curriculum_order, SQL_Q167),
    "q169_length_histogram": (q169_length_histogram, SQL_Q169),
    "q170_moore_lewis": (q170_moore_lewis, SQL_Q170),
    "q171_bootstrap_ci": (q171_bootstrap_ci, SQL_Q171),
    "q173_embedding_outliers": (q173_embedding_outliers, SQL_Q173),
    "q175_split_leakage": (q175_split_leakage, SQL_Q175),
    "q176_unimax_allocation": (q176_unimax_allocation, SQL_Q176),
    "q178_fisher_separation": (q178_fisher_separation, SQL_Q178),
    "q179_winsorized_stats": (q179_winsorized_stats, SQL_Q179),
    "q181_k_anonymity": (q181_k_anonymity, SQL_Q181),
    "q184_hapax_density": (q184_hapax_density, SQL_Q184),
    "q185_vocab_overlap": (q185_vocab_overlap, SQL_Q185),
    "q186_length_emd": (q186_length_emd, SQL_Q186),
    "q187_norm_dedup_lift": (q187_norm_dedup_lift, SQL_Q187),
    "q189_cluster_size_histogram": (q189_cluster_size_histogram, SQL_Q189),
    "q199_pii_redact": (q199_pii_redact, SQL_Q199),
    "q195_allpairs_cosine": (q195_allpairs_cosine, SQL_Q195),
    "q196_readability": (q196_readability, SQL_Q196),
    "q198_quantile_summary": (q198_quantile_summary, SQL_Q198),
    "q193_heavy_hitters": (q193_heavy_hitters, SQL_Q193),
    "q182_benford_audit": (q182_benford_audit, SQL_Q182),
    "q183_incident_overlap": (q183_incident_overlap, SQL_Q183),
    "q125_zipf_stats": (q125_zipf_stats, SQL_Q125),
    "q126_kn_bigram_logprob": (q126_kn_bigram_logprob, SQL_Q126),
    "q127_ewma_forecast": (q127_ewma_forecast, SQL_Q127),
    "q129_quality_quantile_norm": (q129_quality_quantile_norm, SQL_Q129),
    "q135_snapshot_diff": (q135_snapshot_diff, SQL_Q135),
    "q144_threshold_runs": (q144_threshold_runs, SQL_Q144),
    "q145_cusum_alarms": (q145_cusum_alarms, SQL_Q145),
    "q52_simhash_twin_recall": (q52_simhash_twin_recall, SQL_Q52),
    "q91_bpe_first_merge": (q91_bpe_first_merge, SQL_Q91),
    "q97_pq_codes": (q97_pq_codes, SQL_Q97),
    "q98_pq_adc_topk": (q98_pq_adc_topk, SQL_Q98),
    "q99_pq_rerank": (q99_pq_rerank, SQL_Q99),
    "q04_time_filter": (q04_time_filter, SQL_Q04),
    "q05_dedup_first": (q05_dedup_first, SQL_Q05),
    "q07_melt_long": (q07_melt_long, SQL_Q07),
    "q08_header_inventory": (q08_header_inventory, SQL_Q08),
    "q37_lang_id": (q37_lang_id, SQL_Q37),
    "q38_quality_score": (q38_quality_score, SQL_Q38),
    "q172_kcenter_coreset": (q172_kcenter_coreset, SQL_Q172),
    "q39_token_count": (q39_token_count, SQL_Q39),
    "q40_fingerprint": (q40_fingerprint, SQL_Q40),
    "q42_text_clean": (q42_text_clean, SQL_Q42),
    "q43_hash_split": (q43_hash_split, SQL_Q43),
    "q44_json_extract": (q44_json_extract, SQL_Q44),
    "q45_rollup": (q45_rollup, SQL_Q45),
    "q46_delta_rate": (q46_delta_rate, SQL_Q46),
    "q41_ann_ivf": (q41_ann_ivf, SQL_Q35),
    "q47_resample_filled": (q47_resample_filled, SQL_Q47),
    "q48_topn_per_group": (q48_topn_per_group, SQL_Q48),
    "q49_anti_join_dedup": (q49_anti_join_dedup, SQL_Q49),
    "q53_lsh_exact_parity": (q53_lsh_exact_parity, SQL_Q35),
    "q100_ann_ivfpq": (q100_ann_ivfpq, SQL_Q98),
    "q101_corpus_card": (q101_corpus_card, SQL_Q101),
    "q102_repeat_schedule": (q102_repeat_schedule, SQL_Q102),
    "q103_tokenizer_fertility": (q103_tokenizer_fertility, SQL_Q103),
    "q105_budget_trim": (q105_budget_trim, SQL_Q105),
    "q108_decon_semantic": (q108_decon_semantic, SQL_Q108),
    "q110_vocab_coverage": (q110_vocab_coverage, SQL_Q110),
    "q113_epoch_shuffle": (q113_epoch_shuffle, SQL_Q113),
    "q114_source_divergence": (q114_source_divergence, SQL_Q114),
    "q115_seasonal_outliers": (q115_seasonal_outliers, SQL_Q115),
    "q116_weighted_sample": (q116_weighted_sample, SQL_Q116),
    "q54_sketch_bounds": (q54_sketch_bounds, SQL_Q54),
    "q55_header_alias_roundtrip": (q55_header_alias_roundtrip, SQL_Q55),
    "q57_stratified_sample": (q57_stratified_sample, SQL_Q57),
    "q58_knn_classify": (q58_knn_classify, SQL_Q58),
    "q59_overlay_align": (q59_overlay_align, SQL_Q59),
    "q60_pii_scan": (q60_pii_scan, SQL_Q60),
    "q61_repetition_signals": (q61_repetition_signals, SQL_Q61),
    "q190_url_canonicalize": (q190_url_canonicalize, SQL_Q190),
    "q191_domain_rollup": (q191_domain_rollup, SQL_Q191),
    "q197_url_dup_rate": (q197_url_dup_rate, SQL_Q197),
    "q202_url_frontier": (q202_url_frontier, SQL_Q202),
    "q203_html_extract": (q203_html_extract, SQL_Q203),
    "q205_license_rollup": (q205_license_rollup, SQL_Q205),
    "q206_extraction_audit": (q206_extraction_audit, SQL_Q206),
    "q207_boilerplate_blocks": (q207_boilerplate_blocks, SQL_Q207),
    "q124_bm25_topk": (q124_bm25_topk, SQL_Q124),
    "q131_bm25_champions": (q131_bm25_champions, SQL_Q131),
    "q134_hybrid_rrf": (q134_hybrid_rrf, SQL_Q134),
    "q143_mmr_rerank": (q143_mmr_rerank, SQL_Q143),
    "q150_bm25_ndcg_audit": (q150_bm25_ndcg_audit, SQL_Q150),
    "q154_rm3_expansion": (q154_rm3_expansion, SQL_Q154),
    "q177_ql_topk": (q177_ql_topk, SQL_Q177),
    "q180_ranker_agreement": (q180_ranker_agreement, SQL_Q180),
    "q188_ql_champions": (q188_ql_champions, SQL_Q188),
    "q109_pca_projection": (q109_pca_projection, SQL_Q109),
    "q112_remove_top_direction": (q112_remove_top_direction, SQL_Q112),
    "q118_pca_topd": (q118_pca_topd, SQL_Q118),
    "q83_dsir_weights": (q83_dsir_weights, SQL_Q83),
    "q76_quantized_recall": (q76_quantized_recall, SQL_Q76),
    "q121_incremental_near_dups": (q121_incremental_near_dups, SQL_Q121),
    "q139_chunk_ppl_cut": (q139_chunk_ppl_cut, SQL_Q139),
    "q209_crawl_trap_audit": (q209_crawl_trap_audit, SQL_Q209),
    "q211_domain_split_leakage": (q211_domain_split_leakage, SQL_Q211),
    "q212_outlink_graph": (q212_outlink_graph, SQL_Q212),
    "q217_frontier_priority": (q217_frontier_priority, SQL_Q217),
    "q106_repeated_spans": (q106_repeated_spans, SQL_Q106),
    "q119_training_assembly": (q119_training_assembly, SQL_Q119),
    "q213_robots_rules": (q213_robots_rules, SQL_Q213),
    "q214_line_dedup": (q214_line_dedup, SQL_Q214),
    "q215_warc_headers": (q215_warc_headers, SQL_Q215),
    "q216_mojibake_audit": (q216_mojibake_audit, SQL_Q216),
    "q208_domain_quota": (q208_domain_quota, SQL_Q208),
    "q210_markdown_extract": (q210_markdown_extract, SQL_Q210),
    "q62_decontaminate": (q62_decontaminate, SQL_Q62),
    "q63_tfidf_topterms": (q63_tfidf_topterms, SQL_Q63),
    "q64_mix_weights": (q64_mix_weights, SQL_Q64),
    "q65_top_ngrams": (q65_top_ngrams, SQL_Q65),
    "q66_mix_apply": (q66_mix_apply, SQL_Q66),
    "q67_jaccard_maxdf": (q67_jaccard_maxdf, SQL_Q67),
    "q68_dup_clusters": (q68_dup_clusters, SQL_Q68),
    "q69_dedup_apply": (q69_dedup_apply, SQL_Q69),
    "q70_quality_filter": (q70_quality_filter, SQL_Q70),
    "q71_chunk_documents": (q71_chunk_documents, SQL_Q71),
    "q73_pack_sequences": (q73_pack_sequences, SQL_Q73),
}



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: fn for k, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: sql for k, (_, sql) in REGISTRY.items() if sql is not None}
