"""Aggregate-family contract queries + DuckDB oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import aggregates as agg
from datamine_v2_0_spark.operators import joins as jn
from datamine_v2_0_spark.queries.base import _t


def q_agg_global_stats(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return agg.global_stats(df, "l_extendedprice", "l_orderkey")

SQL_AGG_GLOBAL_STATS = """
SELECT COUNT(*) AS row_count, MIN(l_extendedprice) AS min_val,
       MAX(l_extendedprice) AS max_val,
       COUNT(DISTINCT l_orderkey) AS distinct_count
FROM lineitem
"""

def q_agg_grouped_stats(spark, sf_dir):
    return agg.grouped_stats(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity"
    )

SQL_AGG_GROUPED_STATS = """
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(AVG(l_quantity), 4) AS avg_val,
       ROUND(STDDEV(l_quantity), 4) AS stddev_val,
       MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val
FROM lineitem GROUP BY l_returnflag
"""

def q_agg_conditional(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return agg.conditional_counts(
        df,
        ["o_orderpriority"],
        {
            "n_open": F.col("o_orderstatus") == "O",
            "n_high_value": F.col("o_totalprice") > 150000.0,
        },
    )

SQL_AGG_CONDITIONAL = """
SELECT o_orderpriority, COUNT(*) AS n,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_high_value
FROM orders GROUP BY o_orderpriority
"""

def q_agg_percentiles(spark, sf_dir):
    out = agg.exact_percentiles_sorted(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice"
    )
    cols = [F.col("l_returnflag")] + [
        F.round(F.col(c), 4).alias(c) for c in ("p25", "p50", "p75", "p95")
    ]
    return out.select(*cols)

SQL_AGG_PERCENTILES = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.50), 4) AS p50,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.95), 4) AS p95
FROM lineitem GROUP BY l_returnflag
"""

def q_agg_date_distribution(spark, sf_dir):
    out = agg.date_distribution(_t(spark, sf_dir, "orders"), "o_orderdate")
    return out.select(F.col("day").cast("string").alias("day"), "n")

SQL_AGG_DATE_DISTRIBUTION = """
SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day, COUNT(*) AS n
FROM orders GROUP BY 1
"""

def q_agg_freq_topk(spark, sf_dir):
    return agg.frequency_topk(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"], 20
    )

SQL_AGG_FREQ_TOPK = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY 1, 2
ORDER BY n DESC, l_returnflag, l_linestatus LIMIT 20
"""

def q_agg_hourly_profile(spark, sf_dir):
    out = agg.hourly_profile(_t(spark, sf_dir, "events"), "ts")
    return out.select(F.col("day").cast("string").alias("day"), "hour", "dow", "n")

SQL_AGG_HOURLY_PROFILE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(hour(ts) AS INT) AS hour,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       COUNT(*) AS n
FROM events GROUP BY 1, 2, 3
"""

def q_agg_having(spark, sf_dir):
    return agg.having(_t(spark, sf_dir, "events"), ["user_id"], 10)

SQL_AGG_HAVING = """
SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id HAVING COUNT(*) >= 10
"""

def q_agg_mad(spark, sf_dir):
    """Robust per-group dispersion: median + median-absolute-deviation
    of order totals per priority (outlier-resistant spread)."""
    o = _t(spark, sf_dir, "orders")
    return agg.grouped_mad(o, ["o_orderpriority"], "o_totalprice")

SQL_AGG_MAD = """
WITH med AS (
  SELECT o_orderpriority,
         median(o_totalprice) AS m, COUNT(*) AS n
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority, ANY_VALUE(med.n) AS n,
       ROUND(ANY_VALUE(med.m), 6) AS median,
       ROUND(median(ABS(o.o_totalprice - med.m)), 6) AS mad
FROM orders o JOIN med
  ON o.o_orderpriority IS NOT DISTINCT FROM med.o_orderpriority
GROUP BY o.o_orderpriority
"""

def q_agg_hopping(spark, sf_dir):
    """Hopping-window rollup: 1-hour windows sliding every 15 minutes
    (each event lands in 4 windows)."""
    out = agg.hopping_agg(
        _t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        "15 minutes",
        [
            (F.floor(F.avg("value") * 1e6 + F.lit(0.5)) / 1e6).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        ],
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "avg_value",
        "n",
    )

SQL_AGG_HOPPING = """
WITH e AS (
  SELECT value, epoch(ts) AS sec FROM events
), x AS (
  SELECT e.value,
         make_timestamp(CAST((floor(sec / 900) - t.j) * 900 * 1000000 AS BIGINT))
           AS window_start
  FROM e, LATERAL unnest(generate_series(0, 3)) AS t(j)
  WHERE (floor(sec / 900) - t.j) * 900 > sec - 3600
)
SELECT CAST(window_start AS VARCHAR) AS window_start,
       floor(AVG(value) * 1e6 + 0.5) / 1e6 AS avg_value,
       COUNT(*) AS n
FROM x GROUP BY 1
"""

def q_agg_tumbling(spark, sf_dir):
    out = agg.tumbling_agg(
        _t(spark, sf_dir, "events"),
        "ts",
        "5 minutes",
        [
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        ],
    )
    return out.select(
        F.col("bucket_start").cast("string").alias("bucket_start"), "avg_value", "n"
    )

SQL_AGG_TUMBLING = """
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS bucket_start,
       ROUND(AVG(value), 6) AS avg_value, COUNT(*) AS n
FROM events GROUP BY 1
"""

def q_agg_ordered_array(spark, sf_dir):
    out = agg.ordered_array_agg(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "event_type"
    )
    return out.select("user_id", F.array_join("vals", ",").alias("type_seq"))

SQL_AGG_ORDERED_ARRAY = """
SELECT user_id,
       STRING_AGG(event_type, ',' ORDER BY ts, event_type) AS type_seq
FROM events GROUP BY user_id
"""

def q_agg_distinct(spark, sf_dir):
    return agg.distinct_sorted(_t(spark, sf_dir, "events"), "event_type")

SQL_AGG_DISTINCT = "SELECT DISTINCT event_type FROM events ORDER BY 1"

def q_agg_integrity(spark, sf_dir):
    return agg.integrity_report(
        _t(spark, sf_dir, "events"), "event_id", ["user_id", "value"]
    )

SQL_AGG_INTEGRITY = """
SELECT COUNT(*) AS row_count, COUNT(DISTINCT event_id) AS distinct_keys,
       COUNT(*) FILTER (WHERE user_id IS NULL) AS null_user_id,
       COUNT(*) FILTER (WHERE value IS NULL) AS null_value
FROM events
"""

def q_agg_fraction(spark, sf_dir):
    return jn.fraction_of_total(_t(spark, sf_dir, "orders"), ["o_orderstatus"])

SQL_AGG_FRACTION = """
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders), 4) AS pct
FROM orders GROUP BY o_orderstatus
"""

def q_agg_pivot(spark, sf_dir):
    df = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    types = ["click", "error", "purchase", "signup", "view"]
    out = agg.crosstab_pivot(df, "day", "event_type", types)
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types]
    )

SQL_AGG_PIVOT = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY 1
"""

def q_agg_incremental(spark, sf_dir):
    """Continuous-aggregate refresh: materialize the 5-minute rollup
    over ~3/4 of the events, then refresh with the remaining quarter as
    the arriving delta — recomputing only delta-touched buckets and
    upserting. The oracle is the FULL recompute, so the hash match
    proves refresh == recompute (the TimescaleDB continuous-aggregate
    maintenance invariant)."""
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count(F.lit(1)).alias("n"),
    ]
    old_raw = ev.filter(F.col("event_id") % 4 != 0)
    delta = ev.filter(F.col("event_id") % 4 == 0)
    materialized = agg.tumbling_agg(old_raw, "ts", "5 minutes", aggs)
    refreshed = agg.refresh_tumbling(
        materialized, ev, delta, "ts", "5 minutes", aggs
    )
    return refreshed.select(
        F.col("bucket_start").cast("string").alias("bucket_start"),
        "avg_value",
        "n",
    )

def q_agg_rollup(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return (
        df.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )

SQL_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 4) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

def q_agg_cube(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return df.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )

SQL_AGG_CUBE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

def q_agg_describe(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return agg.describe_stats(df, ["l_quantity", "l_extendedprice", "l_discount"])

SQL_AGG_DESCRIBE = """
SELECT 'l_quantity' AS "column", COUNT(l_quantity) AS n,
       ROUND(AVG(l_quantity), 4) AS mean, ROUND(STDDEV(l_quantity), 4) AS stddev,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
       CAST(MAX(l_quantity) AS DOUBLE) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(l_extendedprice),
       ROUND(AVG(l_extendedprice), 4), ROUND(STDDEV(l_extendedprice), 4),
       CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(l_discount),
       ROUND(AVG(l_discount), 4), ROUND(STDDEV(l_discount), 4),
       CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
FROM lineitem
"""

def q_agg_approx(spark, sf_dir):
    """Approx sketch aggregates — the 100 TB defaults (HLL distinct, KLL
    percentile). No SQL oracle: sketch algorithms differ across engines;
    rows-only check + the exact variants above cover semantics."""
    df = _t(spark, sf_dir, "lineitem")
    return agg.approx_percentiles(df, ["l_returnflag"], "l_extendedprice").join(
        df.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_orderkey").alias("approx_orders")
        ),
        "l_returnflag",
    )

def q_agg_hll_rollup(spark, sf_dir):
    """Mergeable-sketch rollup, certified at the SKETCH-CONTENT level
    (round-11 verdict task 6): daily PORTABLE HLL register arrays over
    events.user_id, unioned (per-register MAX) to weekly sketches —
    the returned rows ARE the weekly registers, bit-exact integers the
    DuckDB oracle reproduces from the same md5-60 hash family, so the
    sketch bytes, not just the estimate, hash-match. The
    DataSketches-binary variant (hll_bucket_sketches/hll_rollup — the
    production default) stays pytest-pinned: estimate parity between
    the two paths and accuracy vs exact distinct."""
    ev = _t(spark, sf_dir, "events")
    daily = agg.hll_portable_registers(ev, "ts", "user_id", 86400, lg_k=8)
    weekly = agg.hll_portable_rollup(daily, 7 * 86400, bucket_seconds=86400)
    return weekly.select(
        F.col("period_start").cast("string").alias("period_start"),
        "register",
        F.col("rho_max").cast("int").alias("rho_max"),
    )

# Week bucket = floor(epoch/604800); daily->weekly register MAX equals
# the direct weekly MAX (associativity), so the oracle sketches the
# raw rows straight at week grain. hv = the md5-60 hash (60-bit
# nonnegative), register = low 8 bits, rho = 53 - length(bin(hv >> 8))
# over the remaining 52-bit window (53 when the window is all zeros) —
# integer-exact both engines.
SQL_AGG_HLL_ROLLUP = """
WITH h AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 604800) * 604800 * 1000000
                             AS BIGINT)) AS period_start,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
)
SELECT CAST(period_start AS VARCHAR) AS period_start,
       CAST(hv & 255 AS INT) AS register,
       CAST(MAX(CASE WHEN (hv >> 8) = 0 THEN 53
                     ELSE 53 - length(bin(hv >> 8)) END) AS INT) AS rho_max
FROM h GROUP BY 1, 2
"""

def q_agg_salted(spark, sf_dir):
    """Salted two-phase aggregation — must be bit-identical to the plain
    groupBy (the oracle IS the plain form)."""
    from datamine_v2_0_spark.operators.skew import salted_agg

    df = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        df,
        ["l_returnflag"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sum_qty": (F.sum("l_quantity"), F.sum("sum_qty")),
            "max_price": (F.max("l_extendedprice"), F.max("max_price")),
        },
        salt_buckets=8,
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round("sum_qty", 4).alias("sum_qty"),
        "max_price",
    )

SQL_AGG_SALTED = """
SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty,
       MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
"""

def q_agg_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (beyond rollup/cube): per-returnflag and
    per-linestatus marginals in one pass, with grouping ids to
    disambiguate the NULL rows."""
    df = _t(spark, sf_dir, "lineitem")
    return df.groupingSets(
        [["l_returnflag"], ["l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.grouping_id("l_returnflag", "l_linestatus").cast("long").alias("gid"),
    )

SQL_AGG_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""

def q_agg_outliers(spark, sf_dir):
    """Per-type robust outlier rows by modified z-score (|0.6745·(x−med)
    /MAD| > 3.5) — grouped_mad plus one co-partitioned join back."""
    df = _t(spark, sf_dir, "events")
    out = agg.robust_outliers(df, ["event_type"], "value", z_thresh=3.5)
    return out.select(
        "event_id", "event_type", "value", "median", "mad", "robust_z"
    )

SQL_AGG_OUTLIERS = """
WITH med AS (
  SELECT event_type, median(value) AS m FROM events GROUP BY 1
), st AS (
  SELECT e.event_type, ROUND(ANY_VALUE(med.m), 6) AS median,
         ROUND(median(ABS(e.value - med.m)), 6) AS mad
  FROM events e JOIN med
    ON e.event_type IS NOT DISTINCT FROM med.event_type
  GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value, st.median, st.mad,
       ROUND(0.6745 * (e.value - st.median) / st.mad, 6) AS robust_z
FROM events e JOIN st
  ON e.event_type IS NOT DISTINCT FROM st.event_type
WHERE st.mad > 0
  AND ABS(0.6745 * (e.value - st.median) / st.mad) > 3.5
"""

def q_agg_ab_test(spark, sf_dir):
    """Welch t-test: do 'click' and 'purchase' events carry different
    mean values? One conditional aggregate on a single scan."""
    df = _t(spark, sf_dir, "events")
    return agg.ab_welch_ttest(df, "event_type", "value", "click", "purchase")

SQL_AGG_AB_TEST = """
WITH s AS (
  SELECT COUNT(value) FILTER (WHERE event_type = 'click') AS n_a,
         COUNT(value) FILTER (WHERE event_type = 'purchase') AS n_b,
         AVG(value) FILTER (WHERE event_type = 'click') AS ma,
         AVG(value) FILTER (WHERE event_type = 'purchase') AS mb,
         var_samp(value) FILTER (WHERE event_type = 'click') AS va,
         var_samp(value) FILTER (WHERE event_type = 'purchase') AS vb
  FROM events
)
SELECT n_a, n_b,
       ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
       ROUND((ma - mb) / SQRT(va / n_a + vb / n_b), 6) AS t_stat,
       ROUND((va / n_a + vb / n_b) * (va / n_a + vb / n_b)
             / ((va / n_a) * (va / n_a) / (n_a - 1)
                + (vb / n_b) * (vb / n_b) / (n_b - 1)), 2) AS df_welch
FROM s
"""

def q_agg_topk_group(spark, sf_dir):
    """Top-3 users per event type by total value — aggregate then rank
    within group; both stages share the keys prefix."""
    df = _t(spark, sf_dir, "events")
    out = agg.topk_per_group(
        df, ["event_type"], ["user_id"],
        F.round(F.sum("value"), 4), k=3, value_name="total_value",
    )
    return out.select("event_type", "user_id", "total_value", "rank")

SQL_AGG_TOPK_GROUP = """
WITH s AS (
  SELECT event_type, user_id, ROUND(SUM(value), 4) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, total_value, CAST(rn AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY total_value DESC, user_id) AS rn
  FROM s
) WHERE rn <= 3
"""

def q_agg_histogram(spark, sf_dir):
    """Equal-width 20-bin histogram of the event value distribution;
    every bin present, data-derived bounds via a 1-row broadcast."""
    df = _t(spark, sf_dir, "events")
    return agg.histogram(df, "value", n_bins=20)

SQL_AGG_HISTOGRAM = """
WITH stats AS (
  SELECT CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi,
         -- constant column: zero width floors x/0 to NULL and every bin
         -- reports 0 — mirror the Spark operator's degrade-to-width-1
         CASE WHEN MAX(value) > MIN(value)
              THEN (CAST(MAX(value) AS DOUBLE) - MIN(value)) / 20.0
              ELSE 1.0 END AS width
  FROM events
), c AS (
  SELECT LEAST(GREATEST(CAST(floor((CAST(value AS DOUBLE) - s.lo)
                       / s.width) AS BIGINT), 0), 19) AS bin,
         COUNT(*) AS n
  FROM events, stats s WHERE value IS NOT NULL GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(CAST(0 AS BIGINT), CAST(19 AS BIGINT))) AS bin,
         s.lo, s.width
  FROM stats s
)
SELECT g.bin,
       ROUND(g.lo + g.bin * g.width, 6) AS bin_lo,
       ROUND(g.lo + (g.bin + 1) * g.width, 6) AS bin_hi,
       COALESCE(c.n, 0) AS n
FROM grid g LEFT JOIN c USING (bin)
"""

def q_agg_diversity(spark, sf_dir):
    """Corpus-mix diversity: Shannon entropy (raw + normalized) and Gini
    impurity of the language shares — the balance scorecard for the
    mixing/balancing operators."""
    df = _t(spark, sf_dir, "documents")
    return agg.stratum_diversity(df, "lang")

SQL_AGG_DIVERSITY = """
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
), t AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c),
per AS (
  SELECT (n / t.t) * LN(n / t.t) AS plogp, (n / t.t) * (n / t.t) AS p2
  FROM c, t
)
SELECT COUNT(*) AS n_strata,
       ROUND(-SUM(plogp), 6) AS entropy,
       ROUND(-SUM(plogp) / LN(CAST(COUNT(*) AS DOUBLE)), 6) AS entropy_norm,
       ROUND(1.0 - SUM(p2), 6) AS gini
FROM per
"""

def q_agg_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations of the lineitem numeric columns —
    all six coefficients from ONE aggregate on a single scan."""
    df = _t(spark, sf_dir, "lineitem")
    return agg.corr_matrix(
        df, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )

SQL_AGG_CORR_MATRIX = """
WITH s AS (
  SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS c01,
         ROUND(corr(l_quantity, l_discount), 6) AS c02,
         ROUND(corr(l_quantity, l_tax), 6) AS c03,
         ROUND(corr(l_extendedprice, l_discount), 6) AS c12,
         ROUND(corr(l_extendedprice, l_tax), 6) AS c13,
         ROUND(corr(l_discount, l_tax), 6) AS c23,
         COUNT(*) AS n
  FROM lineitem
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, c01 AS corr, n FROM s
UNION ALL SELECT 'l_quantity', 'l_discount', c02, n FROM s
UNION ALL SELECT 'l_quantity', 'l_tax', c03, n FROM s
UNION ALL SELECT 'l_extendedprice', 'l_discount', c12, n FROM s
UNION ALL SELECT 'l_extendedprice', 'l_tax', c13, n FROM s
UNION ALL SELECT 'l_discount', 'l_tax', c23, n FROM s
"""

def q_agg_heavy_hitters(spark, sf_dir):
    """Misra-Gries frequent-items sketch at the exact operating point:
    capacity >= distinct(user_id) makes every per-partition decrement
    provably zero, so the merged lower bounds ARE the exact counts
    (err_ub = 0) and the exact SQL top-k is the oracle — while the plan
    still runs the full sketch machinery (bounded mapInPandas counters,
    summary-row merge). Constrained-capacity bounds are tested in
    test_sketches."""
    from datamine_v2_0_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events")
    return sk.heavy_hitters(ev, "user_id", k=10, capacity=100000)

SQL_AGG_HEAVY_HITTERS = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS err_ub
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
ORDER BY est_count DESC, user_id LIMIT 10
"""

def q_agg_tdigest(spark, sf_dir):
    """Mergeable t-digest quantile rollup: per-day digests of
    events.value union into one global digest (no raw rescan), then
    p50/p95/p99 estimates.

    Certified at the provably MERGE-FREE operating point (the same
    construction that made agg_heavy_hitters oracle-green at capacity >=
    distinct): the k-scale compaction merges two adjacent singletons only
    when delta*2/(pi*n) <= 1, so with max_centroids = delta >= pi*n/2
    every value stays its own centroid and the estimator reduces to
    deterministic MIDPOINT interpolation over the sorted values — exactly
    replicable in ANSI SQL (note: midpoint interpolation, NOT
    percentile_cont's q*(n-1) rule). The capacity is SELF-SCALING:
    ceil(pi/2 * n) + 1 from a count of the input (a fixed 400k constant
    silently left the merge-free regime on the round-7 16x replica —
    1.6M values need ~2.6M centroids), so the certification holds at any
    test scale; the approximate production operating point
    (max_centroids=100) keeps its accuracy and merge-consistency
    coverage in test_sketches."""
    import math

    from datamine_v2_0_spark.operators import sketches as sk
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    n = ev.filter(F.col("value").isNotNull()).count()
    cap = int(math.pi / 2 * max(n, 1)) + 2
    td = sk.grouped_tdigest(ev, ["d"], "value", max_centroids=cap)
    return sk.merge_tdigests(td, [], [0.5, 0.95, 0.99], max_centroids=cap)

SQL_AGG_TDIGEST = """
WITH vals AS (
  SELECT value AS x, ROW_NUMBER() OVER (ORDER BY value) AS rn
  FROM events WHERE value IS NOT NULL
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vals),
qs AS (SELECT * FROM (VALUES (0.5), (0.95), (0.99)) AS t(q)),
pos AS (
  SELECT q, n,
         CAST(LEAST(GREATEST(FLOOR(q * n + 0.5), 1), n - 1) AS BIGINT) AS i
  FROM qs CROSS JOIN nn
), est AS (
  SELECT pos.q,
         CASE WHEN pos.q * pos.n <= 0.5 THEN v1.x
              WHEN pos.q * pos.n >= pos.n - 0.5 THEN v2.x
              ELSE v1.x + (v2.x - v1.x) * (pos.q * pos.n - (pos.i - 0.5))
         END AS e
  FROM pos
  JOIN vals v1 ON v1.rn = pos.i
  JOIN vals v2 ON v2.rn = pos.i + 1
)
SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n,
       ROUND(MAX(CASE WHEN q = 0.5 THEN e END), 6) AS q_0_5,
       ROUND(MAX(CASE WHEN q = 0.95 THEN e END), 6) AS q_0_95,
       ROUND(MAX(CASE WHEN q = 0.99 THEN e END), 6) AS q_0_99
FROM est
"""

def q_agg_linreg(spark, sf_dir):
    """Per-group OLS trend via closed-form sufficient statistics — one
    partial-aggregatable pass, 6 doubles per group on the shuffle
    (operators/stats.grouped_linreg). x = hour-of-day keeps magnitudes
    small so 6-dp rounding is engine-stable."""
    from datamine_v2_0_spark.operators import stats

    ev = _t(spark, sf_dir, "events").withColumn(
        "hr", F.hour("ts").cast("double")
    )
    return stats.grouped_linreg(ev, ["event_type"], "hr", "value")

SQL_AGG_LINREG = """
WITH b AS (
  SELECT event_type, CAST(hour(ts) AS DOUBLE) AS x, value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) AS DOUBLE) AS nd,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
         SUM(x*y) AS sxy, SUM(y*y) AS syy
  FROM b GROUP BY event_type
)
SELECT event_type, n,
       ROUND((nd*sxy - sx*sy) / NULLIF(nd*sxx - sx*sx, 0), 6) AS slope,
       ROUND((sy - (nd*sxy - sx*sy) / NULLIF(nd*sxx - sx*sx, 0) * sx) / nd, 6)
         AS intercept,
       ROUND((nd*sxy - sx*sy)*(nd*sxy - sx*sy)
             / NULLIF((nd*sxx - sx*sx)*(nd*syy - sy*sy), 0), 6) AS r2
FROM s
"""

def q_agg_mannwhitney(spark, sf_dir):
    """Mann-Whitney U rank test (non-parametric A/B): midranks from a
    per-distinct-value aggregate — the rank exchange carries distinct
    metric values, not rows — cumulated by a DISTRIBUTED prefix sum
    (range buckets + broadcast offsets; no single-task ordered window
    even on continuous metrics) (operators/stats.mann_whitney_u)."""
    from datamine_v2_0_spark.operators import stats

    ev = _t(spark, sf_dir, "events")
    return stats.mann_whitney_u(ev, "event_type", "value", "click", "view")

SQL_AGG_MANNWHITNEY = """
WITH sub AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('click','view') AND value IS NOT NULL
), per_val AS (
  SELECT v, COUNT(*) AS t,
         COUNT(*) FILTER (WHERE g = 'click') AS ta
  FROM sub GROUP BY v
), ranked AS (
  SELECT *, COALESCE(SUM(t) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per_val
), s AS (
  SELECT CAST(SUM(ta) AS DOUBLE) AS na,
         CAST(SUM(t - ta) AS DOUBLE) AS nb,
         SUM((below + (t + 1.0)/2.0) * ta) AS ra,
         CAST(SUM(CAST(t AS DOUBLE)*t*t - t) AS DOUBLE) AS ties
  FROM ranked
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ra - na*(na+1)/2, 6) AS u_stat,
       ROUND((ra - na*(na+1)/2 - na*nb/2)
             / sqrt(na*nb/12.0*((na+nb+1) - ties/((na+nb)*(na+nb-1)))), 6)
         AS z_score
FROM s
"""

def q_stat_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test: exact sup-norm ECDF
    distance between two event types' value distributions — the
    cumulative runs over the distinct-value relation, not rows
    (operators/stats.ks_two_sample)."""
    from datamine_v2_0_spark.operators import stats

    ev = _t(spark, sf_dir, "events")
    return stats.ks_two_sample(ev, "event_type", "value", "click", "view")

SQL_STAT_KS = """
WITH sub AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
  WHERE event_type IN ('click','view') AND value IS NOT NULL
), per_val AS (
  SELECT v, COUNT(*) FILTER (WHERE g = 'click') AS ca,
         COUNT(*) FILTER (WHERE g = 'view') AS cb
  FROM sub GROUP BY v
), cum AS (
  SELECT CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS fa,
         CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS fb
  FROM per_val
), tot AS (
  SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb
  FROM per_val
), s AS (
  SELECT MAX(na) AS na, MAX(nb) AS nb,
         MAX(ABS(fa/na - fb/nb)) AS d
  FROM cum CROSS JOIN tot
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(d, 6) AS d_stat,
       -- NULL p when D is NULL (degenerate group), mirroring the operator
       ROUND(CASE WHEN d IS NOT NULL
                  THEN LEAST(1.0, 2.0*EXP(-2.0 * d*d*(na*nb/(na+nb))))
             END, 6) AS p_approx
FROM s
"""

def q_stat_chi2(spark, sf_dir):
    """Chi-square independence of order priority vs order status with
    the Wilson-Hilferty normal approximation — cell-level shuffle only
    (operators/stats.chi_square_independence)."""
    from datamine_v2_0_spark.operators import stats

    o = _t(spark, sf_dir, "orders")
    return stats.chi_square_independence(o, "o_orderpriority", "o_orderstatus")

SQL_STAT_CHI2 = """
WITH observed AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
         CAST(COUNT(*) AS DOUBLE) AS o
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
), cells AS (
  -- complete the full r*c grid: an unobserved cell contributes
  -- (0-E)^2/E = E to the statistic (mirrors the operator exactly)
  SELECT g.a, g.b, COALESCE(c.o, 0) AS o
  FROM (SELECT da.a, db.b
        FROM (SELECT DISTINCT a FROM observed) da
        CROSS JOIN (SELECT DISTINCT b FROM observed) db) g
  LEFT JOIN observed c ON g.a = c.a AND g.b = c.b
), m AS (
  SELECT a, b, o,
         SUM(o) OVER (PARTITION BY a) AS ra,
         SUM(o) OVER (PARTITION BY b) AS cb,
         SUM(o) OVER () AS n
  FROM cells
), s AS (
  SELECT MAX(n) AS n,
         SUM((o - ra*cb/n)*(o - ra*cb/n)/(ra*cb/n)) AS chi2,
         CAST(COUNT(DISTINCT a) AS DOUBLE) AS r,
         CAST(COUNT(DISTINCT b) AS DOUBLE) AS c
  FROM m
)
SELECT CAST(n AS BIGINT) AS n,
       CAST((r-1)*(c-1) AS BIGINT) AS dof,
       ROUND(chi2, 6) AS chi2,
       ROUND((cbrt(chi2/((r-1)*(c-1))) - (1.0 - 2.0/(9.0*(r-1)*(c-1))))
             / sqrt(2.0/(9.0*(r-1)*(c-1))), 6) AS z_score
FROM s
"""

def q_stat_kappa(spark, sf_dir):
    """Cohen's kappa agreement between two deterministic document
    labelings (char-length bucket vs whitespace-token bucket) — the
    annotation-quality gate; cell-level aggregate + label-marginal join
    (operators/stats.cohens_kappa)."""
    from datamine_v2_0_spark.operators import stats

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()  # the oracle's WHERE text IS NOT NULL
    )
    labeled = docs.select(
        F.when(F.length("text") >= 200, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("rater_a"),
        F.when(
            F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 40,
            F.lit("long"),
        )
        .otherwise(F.lit("short"))
        .alias("rater_b"),
    )
    return stats.cohens_kappa(labeled, "rater_a", "rater_b")

SQL_STAT_KAPPA = r"""
WITH labeled AS (
  SELECT CASE WHEN LENGTH(text) >= 200 THEN 'long' ELSE 'short' END AS a,
         CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 40
              THEN 'long' ELSE 'short' END AS b
  FROM documents WHERE text IS NOT NULL
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS o FROM labeled GROUP BY 1, 2
), s AS (
  SELECT SUM(o) AS n,
         COALESCE(SUM(o) FILTER (WHERE a = b), 0) AS agree
  FROM cells
), ma AS (SELECT a AS k, SUM(o) AS pa FROM cells GROUP BY 1),
mb AS (SELECT b AS k, SUM(o) AS pb FROM cells GROUP BY 1),
pe AS (SELECT COALESCE(SUM(pa*pb), 0) AS pe_num FROM ma JOIN mb USING (k))
SELECT CAST(n AS BIGINT) AS n,
       ROUND(agree/n, 6) AS po,
       ROUND(pe_num/(n*n), 6) AS pe,
       ROUND(CASE WHEN pe_num/(n*n) < 1.0
                  THEN (agree/n - pe_num/(n*n)) / (1.0 - pe_num/(n*n)) END, 6)
         AS kappa
FROM s CROSS JOIN pe
"""


def q_agg_winsorize(spark, sf_dir):
    """Per-priority winsorization of order totals: exact [p05, p95]
    caps joined back co-partitioned (operators/aggregates.winsorize)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = agg.winsorize(
        o, ["o_orderpriority"], "o_totalprice", 0.05, 0.95, round_to=4
    )
    return out.select(
        "o_orderkey", "o_orderpriority", "lo_cap", "hi_cap",
        "value_winsorized",
    )

SQL_AGG_WINSORIZE = """
WITH caps AS (
  SELECT o_orderpriority,
         QUANTILE_CONT(o_totalprice, 0.05) AS lo,
         QUANTILE_CONT(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       ROUND(caps.lo, 4) AS lo_cap, ROUND(caps.hi, 4) AS hi_cap,
       ROUND(CASE WHEN o.o_totalprice IS NOT NULL
                  THEN LEAST(GREATEST(o.o_totalprice, caps.lo), caps.hi)
             END, 4) AS value_winsorized
FROM orders o JOIN caps
  ON o.o_orderpriority IS NOT DISTINCT FROM caps.o_orderpriority
"""


def q_agg_cms_counts(spark, sf_dir):
    """Count-min sketch round trip at PRODUCTION width: sketch
    events.user_id at depth 3 x width 512 (collisions occur and are
    part of the certified answer), then point-estimate every distinct
    user. Unlike the heavy-hitters / t-digest certifications, which
    pin an operating point where the sketch is provably exact, the
    portable md5-60 hash family lets the oracle replicate the sketch
    computation itself bit-for-bit — the APPROXIMATION is what gets
    hash-matched. Overestimate/merge guarantees live in
    test_sketches."""
    from datamine_v2_0_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events")
    sketch = sk.cms_sketch(ev, "user_id", depth=3, width=512)
    keys = ev.select("user_id").distinct()
    return sk.cms_estimate(sketch, keys, "user_id", depth=3, width=512)


SQL_AGG_CMS_COUNTS = """
WITH js AS (SELECT unnest([0, 1, 2]) AS j),
ks AS (
  SELECT CAST(user_id AS VARCHAR) AS k, user_id
  FROM events WHERE user_id IS NOT NULL
),
sk AS (
  SELECT j.j AS row,
         CAST(concat('0x', substr(md5(concat(CAST(j.j AS VARCHAR), ':', ks.k)), 1, 15)) AS BIGINT) % 512 AS cell,
         CAST(COUNT(*) AS BIGINT) AS total
  FROM ks CROSS JOIN js j
  GROUP BY 1, 2
),
dk AS (SELECT DISTINCT user_id, CAST(user_id AS VARCHAR) AS k FROM events WHERE user_id IS NOT NULL),
cells AS (
  SELECT dk.user_id, j.j AS row,
         CAST(concat('0x', substr(md5(concat(CAST(j.j AS VARCHAR), ':', dk.k)), 1, 15)) AS BIGINT) % 512 AS cell
  FROM dk CROSS JOIN js j
)
SELECT c.user_id, CAST(MIN(coalesce(s.total, 0)) AS BIGINT) AS est
FROM cells c
LEFT JOIN sk s ON s.row = c.row AND s.cell = c.cell
GROUP BY c.user_id
"""


def q_stat_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC: does events.value separate
    purchases from the rest? Midranks over DISTINCT score values via
    the distributed prefix-sum (no global single-task window); the
    oracle replays the identical midrank algebra in SQL."""
    from datamine_v2_0_spark.operators import stats as stx

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_purchase", (F.col("event_type") == "purchase").cast("int")
    )
    return stx.roc_auc(ev, "is_purchase", "value")


SQL_STAT_AUC = """
WITH sub AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
per_val AS (
  SELECT v, COUNT(*) AS t, SUM(y) AS tp FROM sub GROUP BY v
),
ranked AS (
  SELECT v, t, tp,
         COALESCE(SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per_val
),
st AS (
  SELECT CAST(SUM(tp) AS DOUBLE) AS np,
         CAST(SUM(t - tp) AS DOUBLE) AS nn,
         SUM((below + (t + 1.0) / 2.0) * tp) AS rp
  FROM ranked
)
SELECT CAST(np AS BIGINT) AS n_pos,
       CAST(nn AS BIGINT) AS n_neg,
       ROUND((rp - np * (np + 1) / 2) / NULLIF(np * nn, 0), 6) AS auc
FROM st
"""


def q_stat_calibration(spark, sf_dir):
    """Calibration health of a [0,1] score against the purchase label:
    one-row (n, ece, mce, brier). Bin stats are rounded before the gap
    algebra (defined semantics, engine-exact); score = value/500
    clamped into edge bins by the operator."""
    from datamine_v2_0_spark.operators import stats as stx

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        (F.col("value") / 500.0).alias("s"),
    )
    return stx.calibration_report(ev, "y", "s", bins=10)


SQL_STAT_CALIBRATION = """
WITH sub AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
         CAST(value AS DOUBLE) / 500.0 AS s
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
b AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(s * 10) AS INT), 0), 9) AS bin, s, y
  FROM sub
),
bt AS (
  SELECT bin, COUNT(*) AS n, ROUND(AVG(s), 6) AS conf, ROUND(AVG(y), 6) AS acc
  FROM b GROUP BY bin
),
pb AS (
  SELECT SUM(n) AS nn,
         SUM(CAST(n AS DOUBLE) * ABS(acc - conf)) AS gapsum,
         MAX(ABS(acc - conf)) AS mce
  FROM bt
),
br AS (SELECT AVG((s - y) * (s - y)) AS brier FROM sub)
SELECT CAST(coalesce(nn, 0) AS BIGINT) AS n,
       ROUND(gapsum / NULLIF(nn, 0), 6) AS ece,
       ROUND(mce, 6) AS mce,
       ROUND(brier, 6) AS brier
FROM pb, br
"""
