"""Join-family contract queries + DuckDB oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import joins as jn
from datamine_v2_0_spark.operators.joins import resolve_priority
from datamine_v2_0_spark.queries.base import _t


def q_join_equi_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = jn.equi_join(
        jn.equi_join(li, o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"),
        c.withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
        # no forced broadcast: customer is corpus-scaled — Catalyst
        # broadcasts it by size at test scale, AQE re-plans at 100 TB
    )
    # money sums in EXACT decimal, not double: at 4x sf0.1 the segment
    # revenues reach ~1e9 where double partial-agg tree order vs the
    # oracle's sequential order differ within float error, and a sum
    # landing near a cent-rounding half-boundary hash-mismatches
    # (observed in the round-7 4x-replica sweep). price has 2 decimals
    # and discount 2, so DECIMAL(30,4) terms sum exactly on both
    # engines at any scale.
    term = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    ).cast("decimal(30,4)")
    return joined.groupBy("c_mktsegment").agg(
        F.round(F.sum(term), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )

SQL_JOIN_EQUI_REVENUE = """
SELECT c_mktsegment,
       CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2)))
                           AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

def q_join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return jn.anti_join(c, o, "c_custkey").select("c_custkey", "c_name")

SQL_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

def q_join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    return jn.semi_join(c, o, "c_custkey").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )

SQL_JOIN_SEMI = """
SELECT c_mktsegment, COUNT(*) AS n FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
"""

def q_join_range_bin(spark, sf_dir):
    """Key-free big-big range join via time-axis binning: 104 synthetic
    30-minute maintenance windows (every 7 h over Jan 2024) vs the event
    stream — no broadcast, no nested loop; the bin explode turns the
    range predicate into an equi shuffle join."""
    ev = _t(spark, sf_dir, "events")
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    iv = spark.range(0, 104).select(
        F.col("id").alias("window_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 25200).alias("w_start"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 25200 + 1800).alias("w_end"),
    )
    joined = jn.range_bin_join(ev, iv, "ts", "w_start", "w_end", 3600)
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.avg("value") * 1e6 + F.lit(0.5)) / 1e6).alias("avg_value"),
    )

SQL_JOIN_RANGE_BIN = """
WITH iv AS (
  SELECT i AS window_id,
         make_timestamp(CAST((1704067200 + i*25200) AS BIGINT) * 1000000)
           AS w_start,
         make_timestamp(CAST((1704067200 + i*25200 + 1800) AS BIGINT) * 1000000)
           AS w_end
  FROM generate_series(0, 103) AS t(i)
)
SELECT iv.window_id, COUNT(*) AS n,
       floor(AVG(e.value) * 1e6 + 0.5) / 1e6 AS avg_value
FROM events e JOIN iv ON e.ts BETWEEN iv.w_start AND iv.w_end
GROUP BY 1
"""

def q_join_interval(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    iv = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        F.col("o_orderdate").alias("iv_start"),
        F.expr("o_orderdate + INTERVAL 7 DAYS").alias("iv_end"),
    )
    joined = jn.interval_contain_join(
        li,
        iv,
        [("l_orderkey", "o_orderkey")],
        "l_shipdate",
        "iv_start",
        "iv_end",
        how="inner",
    )
    return joined.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))

SQL_JOIN_INTERVAL = """
SELECT o_orderpriority, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 7 DAY
GROUP BY o_orderpriority
"""

def q_join_asof(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    matched = jn.asof_nearest_join(
        errors,
        purchases,
        [("user_id", "p_user_id")],
        "ts",
        "p_ts",
        3600.0,
        "event_id",
        right_tiebreak="p_event_id",
    )
    delta = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("p_ts"))
    ).cast("double") / F.lit(1_000_000.0)
    return matched.select("event_id", "p_event_id", delta.alias("delta_s"))

SQL_JOIN_ASOF = """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT e.event_id, p.p_event_id, e.ts, p.p_ts,
              ABS(CAST(date_diff('microsecond', p.p_ts, e.ts) AS DOUBLE))
                  / 1000000.0 AS absd
       FROM e JOIN p ON e.user_id = p.user_id
       WHERE ABS(CAST(date_diff('microsecond', p.p_ts, e.ts) AS DOUBLE))
             / 1000000.0 <= 3600.0
     )
SELECT event_id, p_event_id,
       CAST(date_diff('microsecond', p_ts, ts) AS DOUBLE) / 1000000.0 AS delta_s
FROM j
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY absd, p_ts, p_event_id) = 1
"""

def q_join_asof_backward(spark, sf_dir):
    """pandas merge_asof(direction='backward') semantics: latest purchase
    at-or-before each error, within tolerance."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    matched = jn.asof_nearest_join(
        errors,
        purchases,
        [("user_id", "p_user_id")],
        "ts",
        "p_ts",
        3600.0,
        "event_id",
        direction="backward",
        right_tiebreak="p_event_id",
    )
    delta = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("p_ts"))
    ).cast("double") / F.lit(1_000_000.0)
    return matched.select("event_id", "p_event_id", delta.alias("delta_s"))

SQL_JOIN_ASOF_BACKWARD = """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT e.event_id, p.p_event_id, e.ts, p.p_ts,
              CAST(date_diff('microsecond', p.p_ts, e.ts) AS DOUBLE)
                  / 1000000.0 AS d
       FROM e JOIN p ON e.user_id = p.user_id
       WHERE CAST(date_diff('microsecond', p.p_ts, e.ts) AS DOUBLE)
             / 1000000.0 BETWEEN 0.0 AND 3600.0
     )
SELECT event_id, p_event_id, d AS delta_s
FROM j
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY d, p_ts, p_event_id) = 1
"""

def q_join_asof_merge(spark, sf_dir):
    """Big-big as-of via union-merge (one shuffle, zero join operators):
    same backward at-or-before semantics as join_asof_backward but ALL
    left rows survive (NULLs outside tolerance); oracle = DuckDB's
    native ASOF LEFT JOIN with a tolerance gate."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    m = jn.asof_merge_join(
        errors, purchases, ["user_id"], "ts", "p_ts",
        ["p_event_id", "p_ts"], tolerance_seconds=3600.0,
    )
    return m.select(
        "event_id",
        F.col("asof_p_event_id").alias("p_event_id"),
        (
            (F.unix_micros("ts") - F.unix_micros("asof_p_ts")).cast("double")
            / 1e6
        ).alias("delta_s"),
    )

SQL_JOIN_ASOF_MERGE = """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     p AS (SELECT user_id, event_id AS p_event_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
     j AS (
       SELECT e.event_id, p.p_event_id,
              CAST(date_diff('microsecond', p.p_ts, e.ts) AS DOUBLE)
                  / 1000000.0 AS d
       FROM e ASOF LEFT JOIN p
         ON e.user_id = p.user_id AND e.ts >= p.p_ts
     )
SELECT event_id,
       CASE WHEN d <= 3600.0 THEN p_event_id END AS p_event_id,
       CASE WHEN d <= 3600.0 THEN d END AS delta_s
FROM j
"""

def q_join_overlap(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_custkey").alias("a_cust"),
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderdate").alias("a_start"),
        F.expr("o_orderdate + INTERVAL 7 DAYS").alias("a_end"),
    )
    b = o.select(
        F.col("o_custkey").alias("b_cust"),
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderdate").alias("b_start"),
        F.expr("o_orderdate + INTERVAL 7 DAYS").alias("b_end"),
    )
    # binned form: the theta overlap_join nested-loops within each
    # customer key, and the skewed replica's whale customer (40% of
    # orders) measured 65x the uniform time; weekly bins match the
    # 7-day interval span (<=2 bins per side)
    pairs = jn.overlap_join_binned(
        a, b, [("a_cust", "b_cust")], "a_start", "a_end", "b_start", "b_end",
        bin_seconds=7 * 86400,
    ).filter(F.col("a_key") < F.col("b_key"))
    return pairs.groupBy(F.col("a_cust").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )

SQL_JOIN_OVERLAP = """
SELECT a.o_custkey AS custkey, COUNT(*) AS n_overlaps
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.o_orderdate < b.o_orderdate + INTERVAL 7 DAY
 AND b.o_orderdate < a.o_orderdate + INTERVAL 7 DAY
GROUP BY 1
"""

def q_join_upsert(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    current = ev.filter(F.col("event_id") % 2 == 0)
    updates = ev.filter(F.col("event_id") % 2 == 1)
    latest = jn.upsert(
        current,
        updates,
        ["user_id", "event_type"],
        F.struct(F.col("ts"), F.col("event_id")),
    )
    return latest.select("user_id", "event_type", "event_id")

SQL_JOIN_UPSERT = """
SELECT user_id, event_type, event_id FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
"""

EVENT_CATEGORY = {
    "click": "interaction",
    "view": "interaction",
    "purchase": "transaction",
    "signup": "account",
    "error": "fault",
}

def q_join_lookup(spark, sf_dir):
    out = jn.lookup_join(
        _t(spark, sf_dir, "events"), EVENT_CATEGORY, "event_type", "category"
    )
    return out.groupBy("category").agg(F.count(F.lit(1)).alias("n"))

SQL_JOIN_LOOKUP = """
SELECT CASE LOWER(TRIM(COALESCE(event_type, 'unknown')))
         WHEN 'click' THEN 'interaction'
         WHEN 'view' THEN 'interaction'
         WHEN 'purchase' THEN 'transaction'
         WHEN 'signup' THEN 'account'
         WHEN 'error' THEN 'fault'
         ELSE 'unknown' END AS category,
       COUNT(*) AS n
FROM events GROUP BY 1
"""

def q_join_interval_priority(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("i_user"),
        F.col("ts").alias("i_start"),
        F.expr("ts + INTERVAL 30 MINUTES").alias("i_end"),
        F.lit("post_purchase").alias("i_label"),
        F.lit(2).alias("i_priority"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("i_user"),
        F.col("ts").alias("i_start"),
        F.expr("ts + INTERVAL 60 MINUTES").alias("i_end"),
        F.lit("post_error").alias("i_label"),
        F.lit(1).alias("i_priority"),
    )
    intervals = purchases.unionByName(errors)
    # range_bin_join, not the theta-form interval_contain_join: the
    # equi-key + range predicate plans as a per-key nested loop inside
    # SMJ, and a hot key pays |events| x |intervals| predicate evals in
    # one key group (the skewed-replica bench's bot user: ~14x time).
    # Binning the hour axis makes it an equi join on (user, bin) with
    # the exact containment as a post-filter; intervals span <= 60 min,
    # so each explodes to at most 2 bins.
    joined = jn.range_bin_join(
        ev.select("event_id", "user_id", "ts"),
        intervals,
        "ts",
        "i_start",
        "i_end",
        3600,
        keys=[("user_id", "i_user")],
        how="left",
    )
    resolved = resolve_priority(joined, "event_id", F.col("i_priority"), "i_label")
    return resolved.select(
        "event_id", F.coalesce("i_label", F.lit("background")).alias("label")
    )

SQL_JOIN_INTERVAL_PRIORITY = """
WITH iv AS (
  SELECT user_id AS i_user, ts AS i_start, ts + INTERVAL 30 MINUTE AS i_end,
         'post_purchase' AS i_label, 2 AS i_priority
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, ts + INTERVAL 60 MINUTE,
         'post_error', 1
  FROM events WHERE event_type = 'error'
), j AS (
  SELECT e.event_id, iv.i_label, iv.i_priority
  FROM events e LEFT JOIN iv
    ON e.user_id = iv.i_user AND e.ts BETWEEN iv.i_start AND iv.i_end
)
SELECT event_id, COALESCE(i_label, 'background') AS label
FROM j
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id
                           ORDER BY i_priority DESC, i_label) = 1
"""

def q_join_salted(spark, sf_dir):
    """Salted replicated join — identical results to the plain equi join."""
    from datamine_v2_0_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    out = salted_join(li, o, "l_orderkey", salt_buckets=4)
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )

SQL_JOIN_SALTED = """
SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

def q_join_bloom(spark, sf_dir):
    """Bloom-prefiltered fact↔dim join: urgent orders' keys hash into a
    bounded bitset, the lineitem probe side drops non-matching rows
    BEFORE the shuffle join, false positives die in the real join — so
    the result (and oracle) is exactly the plain filtered equi join."""
    li = _t(spark, sf_dir, "lineitem")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    j = jn.bloom_prefilter_join(li, o, "l_orderkey", expected_items=50000, fpp=0.01)
    term = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    ).cast("decimal(30,4)")
    return j.groupBy("l_returnflag").agg(
        F.round(F.sum(term), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )

SQL_JOIN_BLOOM = """
SELECT l_returnflag,
       CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2)))
                           AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""

def q_join_fuzzy(spark, sf_dir):
    """Edit-distance self-join with q-gram prefix-filter blocking plus a
    length-band fallback for low-gram strings (see
    operators/joins.fuzzy_self_pairs). The blocking is lossless by
    construction, so the exact all-pairs levenshtein SQL is the oracle;
    adversarial repeated-gram fixtures are brute-force checked in
    test_fuzzy."""
    part = _t(spark, sf_dir, "part")
    return jn.fuzzy_self_pairs(part, "p_name", max_dist=2)

SQL_JOIN_FUZZY = """
WITH n AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM n a JOIN n b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""
