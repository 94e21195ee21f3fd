"""Window-family contract queries + DuckDB oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import smoothing as sm
from datamine_v2_0_spark.operators import windows as win
from datamine_v2_0_spark.queries.base import (
    _events_window,
    _t,
)


def q_win_lag_delta(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    micros = F.unix_micros(F.col("ts"))
    delta = (micros - F.lag(micros, 1).over(w)).cast("double") / F.lit(1_000_000.0)
    return df.select(
        "event_id",
        "user_id",
        win.lag_col("value", w).alias("prev_value"),
        delta.alias("delta_s"),
    )

SQL_WIN_LAG_DELTA = """
SELECT event_id, user_id,
       LAG(value) OVER w AS prev_value,
       CAST(date_diff('microsecond', LAG(ts) OVER w, ts) AS DOUBLE)
           / 1000000.0 AS delta_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

def q_win_rolling(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    return df.select(
        "event_id",
        F.round(win.rolling_mean("value", w, 2, 2), 6).alias("rmean5"),
        F.round(win.rolling_stddev("value", w, 4, 0), 6).alias("rstd5_trail"),
    )

SQL_WIN_ROLLING = """
SELECT event_id,
       ROUND(AVG(value) OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
           AS rmean5,
       ROUND(STDDEV(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
           AS rstd5_trail
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

def q_win_blocks(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    # explicit BIGINT on both sides: DuckDB's windowed SUM(int) yields
    # HUGEINT, whose driver-side rendering diverged from Spark's long in r2
    with_block = df.withColumn(
        "block_id", win.block_id("event_type", w).cast("long")
    )
    w2 = win.ordered_window(["user_id", "block_id"], ["ts", "event_id"])
    return with_block.select(
        "event_id",
        "block_id",
        win.persistence_counter(w2).alias("run_pos"),
    )

SQL_WIN_BLOCKS = """
WITH flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN ROW_NUMBER() OVER w = 1
               OR LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), blocks AS (
  SELECT event_id, user_id, ts,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS block_id
  FROM flagged
)
SELECT event_id, block_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id, block_id
                               ORDER BY ts, event_id) AS INT) AS run_pos
FROM blocks
"""

def q_win_partition_stddev(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    sd = F.round(win.partition_agg(F.stddev("value"), ["user_id"]), 4)
    return (
        df.select("user_id", sd.alias("sd"))
        .withColumn("has_high_var", F.col("sd") > 140.0)
        .distinct()
    )

SQL_WIN_PARTITION_STDDEV = """
SELECT user_id, ROUND(STDDEV(value), 4) AS sd,
       ROUND(STDDEV(value), 4) > 140.0 AS has_high_var
FROM events GROUP BY user_id
"""

def q_win_running_sum(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    return df.select(
        "event_id", F.round(win.running_sum("value", w), 6).alias("rsum")
    )

SQL_WIN_RUNNING_SUM = """
SELECT event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS rsum
FROM events
"""

def q_win_diff_shift(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    return df.select(
        "event_id",
        win.diff("value", w, 10).alias("diff10"),
        F.lag("event_type", 2).over(w).alias("shift2"),
        win.lag_default_current(F.col("value"), w).alias("lag_or_current"),
    )

SQL_WIN_DIFF_SHIFT = """
SELECT event_id,
       value - LAG(value, 10) OVER w AS diff10,
       LAG(event_type, 2) OVER w AS shift2,
       COALESCE(LAG(value, 1) OVER w, value) AS lag_or_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

def q_win_ffill(spark, sf_dir):
    df = _t(spark, sf_dir, "events").withColumn(
        "v_sparse",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")),
    )
    w = _events_window()
    return df.select(
        "event_id", F.round(win.ffill("v_sparse", w), 6).alias("v_filled")
    )

SQL_WIN_FFILL = """
SELECT event_id,
       ROUND(LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS v_filled
FROM events
"""

def q_win_savgol(spark, sf_dir):
    """F5 Savitzky–Golay grouped-map UDF, oracle-checked on interior
    points: away from the edges an 11-point quadratic SG filter IS the
    fixed convolution (-36,9,44,69,84,89,...)/429, which DuckDB expresses
    with lag/lead — so the applyInPandas kernel's output hash-matches
    closed-form SQL. Edge rows (polynomial-fit extrapolation) are
    excluded here and covered by the exact-recovery pytest."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = sm.savgol_smooth(
        ev, ["user_id"], "ts", "value", out_col="smoothed",
        window=11, polyorder=2, tiebreak_col="event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = out.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    return out.filter(
        (F.col("__rn") >= 6) & (F.col("__rn") <= F.col("__n") - 5)
    ).select("event_id", F.round("smoothed", 6).alias("smoothed"))

SQL_WIN_SAVGOL = """
WITH r AS (
  SELECT event_id,
         ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         (-36.0 * (LAG(value, 5) OVER w + LEAD(value, 5) OVER w)
          + 9.0  * (LAG(value, 4) OVER w + LEAD(value, 4) OVER w)
          + 44.0 * (LAG(value, 3) OVER w + LEAD(value, 3) OVER w)
          + 69.0 * (LAG(value, 2) OVER w + LEAD(value, 2) OVER w)
          + 84.0 * (LAG(value, 1) OVER w + LEAD(value, 1) OVER w)
          + 89.0 * value) / 429.0 AS sm
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, ROUND(sm, 6) AS smoothed
FROM r WHERE rn >= 6 AND rn <= n - 5
"""

def q_win_range_frame(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    out = df.withColumn(
        "rmean_300s",
        win.range_frame_mean(F.col("value"), ["user_id"], epoch, 300),
    )
    return out.select("event_id", F.round("rmean_300s", 6).alias("rmean_300s"))

SQL_WIN_RANGE_FRAME = """
SELECT event_id,
       ROUND(AVG(value) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 300 PRECEDING AND CURRENT ROW), 6) AS rmean_300s
FROM events
"""

def q_win_minmax_flags(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    mn, mx = win.group_min_max("ts", ["user_id"])
    return df.select(
        "event_id",
        mn.cast("string").alias("first_ts"),
        mx.cast("string").alias("last_ts"),
        win.change_flag("event_type", w).alias("type_changed"),
        F.round(win.second_diff("value", w), 6).alias("accel"),
    )

SQL_WIN_MINMAX_FLAGS = """
SELECT event_id,
       CAST(MIN(ts) OVER (PARTITION BY user_id) AS VARCHAR) AS first_ts,
       CAST(MAX(ts) OVER (PARTITION BY user_id) AS VARCHAR) AS last_ts,
       CASE WHEN ROW_NUMBER() OVER w = 1
             OR LAG(event_type) OVER w IS DISTINCT FROM event_type
            THEN 1 ELSE 0 END AS type_changed,
       ROUND((value - LAG(value) OVER w)
             - (LAG(value) OVER w - LAG(value, 2) OVER w), 6) AS accel
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

def q_win_rank_family(spark, sf_dir):
    """Generic ranking family (rank/dense_rank/percent_rank/cume_dist/
    ntile/lead) sharing one window sort."""
    df = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = win.ordered_window(["user_id"], ["value", "event_id"])
    feats = win.rank_features(w, F.col("value"), buckets=4)
    return df.select(
        "event_id",
        "user_id",
        feats["rnk"].alias("rnk"),
        feats["drnk"].alias("drnk"),
        F.round(feats["prnk"], 6).alias("prnk"),
        F.round(feats["cdist"], 6).alias("cdist"),
        feats["tile"].alias("tile"),
        feats["next_val"].alias("next_val"),
    )

SQL_WIN_RANK_FAMILY = """
SELECT event_id, user_id,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cdist,
       NTILE(4) OVER w AS tile,
       LEAD(value, 1) OVER w AS next_val
FROM events WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
"""

def q_win_sessionize(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = _events_window()
    sess = df.withColumn(
        "session_id", win.sessionize("ts", w, 3600.0).cast("long")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").cast("string").alias("session_start"),
        F.max("ts").cast("string").alias("session_end"),
    )

SQL_WIN_SESSIONIZE = """
WITH d AS (
  SELECT user_id, ts, event_id,
         CAST(date_diff('microsecond', LAG(ts) OVER w, ts) AS DOUBLE)
             / 1000000.0 AS delta
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(SUM(CASE WHEN delta IS NULL OR delta > 3600.0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM d
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(MIN(ts) AS VARCHAR) AS session_start,
       CAST(MAX(ts) AS VARCHAR) AS session_end
FROM s GROUP BY user_id, session_id
"""

def q_win_rolling_corr(spark, sf_dir):
    """Trailing-100-row rolling Pearson correlation of value vs time per
    user — a windowed trend-strength signal. Epoch is re-based to the
    corpus start so both engines' co-moment accumulations stay
    well-conditioned; floor-quantized at 6 dp."""
    ev = _t(spark, sf_dir, "events")
    w = win.ordered_window(["user_id"], ["ts", "event_id"])
    x = (F.unix_micros("ts").cast("double") / 1e6) - F.lit(1704067200.0)
    c = win.rolling_corr(F.col("value"), x, w, 99, 0)
    return ev.select(
        "event_id",
        "user_id",
        (F.floor(c * 1e6 + F.lit(0.5)) / 1e6).alias("trend_corr"),
    )

SQL_WIN_ROLLING_CORR = """
SELECT event_id, user_id,
       floor(corr(value, epoch(ts) - 1704067200.0) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 99 PRECEDING AND CURRENT ROW
       ) * 1e6 + 0.5) / 1e6 AS trend_corr
FROM events
"""

def q_win_hampel(spark, sf_dir):
    """Hampel telemetry despiking: rolling-median/MAD spike replacement
    per user over the event stream (±5-row frames, k=3). One window
    exchange shared by both percentile passes."""
    df = _t(spark, sf_dir, "events")
    out = win.hampel_filter(
        df, ["user_id"], "ts", "value", half_window=5, k=3.0,
        tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "value", "roll_med", "roll_mad",
        "is_spike", "value_clean",
    )

SQL_WIN_HAMPEL = """
WITH m AS (
  SELECT event_id, user_id, ts, value,
         median(value) OVER w AS roll_med
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
), d AS (
  SELECT *, ABS(value - roll_med) AS dev FROM m
), s AS (
  SELECT event_id, user_id, value, roll_med,
         median(dev) OVER w AS roll_mad
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
)
SELECT event_id, user_id, value,
       ROUND(roll_med, 6) AS roll_med,
       ROUND(roll_mad, 6) AS roll_mad,
       ABS(value - roll_med) > 3.0 * 1.4826 * roll_mad AS is_spike,
       ROUND(CASE WHEN ABS(value - roll_med) > 3.0 * 1.4826 * roll_mad
                  THEN roll_med ELSE value END, 6) AS value_clean
FROM s
"""

def q_scd_type2(spark, sf_dir):
    """SCD Type 2 dimension history from the orders stream: versioned
    half-open validity intervals of each customer's order priority
    (operators/windows.scd_type2 — gaps-and-islands sharing one
    exchange)."""
    o = _t(spark, sf_dir, "orders")
    out = win.scd_type2(
        o, key="o_custkey", attr="o_orderpriority",
        ts="o_orderdate", tiebreak="o_orderkey",
    )
    return out.select(
        "o_custkey", "o_orderpriority",
        F.col("version").cast("bigint").alias("version"),
        "valid_from", "valid_to", "is_current",
    )

SQL_SCD_TYPE2 = """
WITH o AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         CASE WHEN ROW_NUMBER() OVER w = 1
                OR LAG(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), v AS (
  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING) AS version
  FROM o
), isl AS (
  SELECT o_custkey, version, o_orderpriority,
         MIN(o_orderdate) AS valid_from
  FROM v GROUP BY o_custkey, version, o_orderpriority
)
SELECT o_custkey, o_orderpriority, CAST(version AS BIGINT) AS version,
       valid_from,
       LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
         AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
         IS NULL AS is_current
FROM isl
"""
