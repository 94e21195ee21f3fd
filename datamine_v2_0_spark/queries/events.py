"""Event-funnel / time-series / validation contract queries.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datamine_v2_0_spark.queries.base import _t


def q_qa_validate(spark, sf_dir):
    """Declarative data-quality report over lineitem: all scalar rules in
    ONE conditional aggregate on a single scan; the referential rule adds
    one broadcast anti-join branch."""
    from datamine_v2_0_spark.operators import quality as qa

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return qa.validate_table(li, [
        {"name": "shipdate_not_null", "kind": "not_null", "col": "l_shipdate"},
        {"name": "qty_range", "kind": "in_range", "col": "l_quantity",
         "lo": 1.0, "hi": 40.0},
        {"name": "returnflag_domain", "kind": "in_set", "col": "l_returnflag",
         "values": ["A", "N", "R"]},
        {"name": "linenumber_pos", "kind": "in_range", "col": "l_linenumber",
         "lo": 1, "hi": 3},
        {"name": "pk_unique", "kind": "unique",
         "cols": ["l_orderkey", "l_linenumber"]},
        {"name": "order_fk", "kind": "ref", "col": "l_orderkey",
         "dim": orders, "dim_col": "o_orderkey"},
    ])

SQL_QA_VALIDATE = """
SELECT 'shipdate_not_null' AS rule, 'not_null' AS kind,
       COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS violations FROM lineitem
UNION ALL
SELECT 'qty_range', 'in_range',
       COUNT(*) FILTER (WHERE l_quantity IS NOT NULL
                        AND l_quantity NOT BETWEEN 1.0 AND 40.0) FROM lineitem
UNION ALL
SELECT 'returnflag_domain', 'in_set',
       COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL
                        AND l_returnflag NOT IN ('A','N','R')) FROM lineitem
UNION ALL
SELECT 'linenumber_pos', 'in_range',
       COUNT(*) FILTER (WHERE l_linenumber IS NOT NULL
                        AND l_linenumber NOT BETWEEN 1 AND 3) FROM lineitem
UNION ALL
SELECT 'pk_unique', 'unique',
       COUNT(*) FILTER (WHERE l_orderkey IS NOT NULL
                        AND l_linenumber IS NOT NULL)
       - COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
                              AND l_linenumber IS NOT NULL
                             THEN (l_orderkey, l_linenumber) END)
FROM lineitem
UNION ALL
SELECT 'order_fk', 'ref',
       COUNT(*) FILTER (WHERE l.l_orderkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM orders o
                                        WHERE o.o_orderkey = l.l_orderkey))
FROM lineitem l
"""

def q_ts_gapfill(spark, sf_dir):
    """time_bucket_gapfill + locf + interpolate (TimescaleDB family):
    per-user daily resample of the events value with gap buckets filled
    both ways. One bucket-agg shuffle, per-key sequence() grid (no
    driver collect), one shared window exchange."""
    from datamine_v2_0_spark.operators import timeseries as tsr

    df = _t(spark, sf_dir, "events")
    return tsr.resample_gapfill(df, ["user_id"], "ts", "value", 86400)

SQL_TS_GAPFILL = """
WITH vals AS (
  SELECT user_id,
         make_timestamp(CAST(floor(epoch(ts)/86400)*86400*1000000 AS BIGINT))
           AS bucket,
         floor(AVG(value) * 1e6 + 0.5) / 1e6 AS value
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM vals GROUP BY 1
), grid AS (
  SELECT user_id,
         unnest(generate_series(mn, mx, INTERVAL 86400 SECONDS)) AS bucket
  FROM spans
), g AS (
  SELECT grid.user_id, grid.bucket, vals.value
  FROM grid LEFT JOIN vals
    ON vals.user_id = grid.user_id AND vals.bucket = grid.bucket
)
SELECT user_id, bucket, value,
  last_value(value IGNORE NULLS) OVER wp AS value_locf,
  CASE WHEN value IS NOT NULL THEN value
       ELSE floor((
         last_value(value IGNORE NULLS) OVER wp
         + (first_value(value IGNORE NULLS) OVER wn
            - last_value(value IGNORE NULLS) OVER wp)
           * (epoch(bucket)
              - last_value(CASE WHEN value IS NOT NULL THEN epoch(bucket) END
                           IGNORE NULLS) OVER wp)
           / (first_value(CASE WHEN value IS NOT NULL THEN epoch(bucket) END
                          IGNORE NULLS) OVER wn
              - last_value(CASE WHEN value IS NOT NULL THEN epoch(bucket) END
                           IGNORE NULLS) OVER wp)
         ) * 1e6 + 0.5) / 1e6 END AS value_interp
FROM g
WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wn AS (PARTITION BY user_id ORDER BY bucket
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
"""

def q_evt_funnel(spark, sf_dir):
    """Ordered view->click->purchase funnel: one fold over each user's
    sorted events (single shuffle) vs the oracle's k chained min-after-min
    passes — same semantics, k× less shuffle at scale."""
    from datamine_v2_0_spark.operators import events as ev

    df = _t(spark, sf_dir, "events")
    return ev.funnel_steps(df, ["view", "click", "purchase"], "user_id", "ts", "event_type")

SQL_EVT_FUNNEL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id
)
SELECT CAST(0 AS INT) AS step, 'view' AS step_name, (SELECT COUNT(*) FROM t1) AS users
UNION ALL
SELECT CAST(1 AS INT), 'click', (SELECT COUNT(*) FROM t2)
UNION ALL
SELECT CAST(2 AS INT), 'purchase', (SELECT COUNT(*) FROM t3)
"""

def q_evt_cohort(spark, sf_dir):
    """Weekly cohort retention triangle over the events stream."""
    from datamine_v2_0_spark.operators import events as ev

    df = _t(spark, sf_dir, "events")
    return ev.cohort_retention(df, "user_id", "ts")

SQL_EVT_COHORT = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, date_trunc('week', e.ts)) / 7 AS INT)
         AS week_offset,
       COUNT(DISTINCT e.user_id) AS users
FROM events e JOIN first f USING (user_id)
GROUP BY 1, 2
"""

def q_evt_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's ordered
    event stream (the reference's per-device state-change EDA shape):
    one lag window + one hash aggregate."""
    from datamine_v2_0_spark.operators import events as ev

    df = _t(spark, sf_dir, "events")
    return ev.transition_matrix(df, "user_id", "ts", "event_type", tiebreak="event_id")

SQL_EVT_TRANSITIONS = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_state,
         event_type AS to_state
  FROM events
), n AS (
  SELECT from_state, to_state, COUNT(*) AS n FROM pairs
  WHERE from_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_state) AS DOUBLE), 6) AS prob
FROM n
"""

def q_ts_ewma(spark, sf_dir):
    """Resample-then-smooth: hourly per-type means (quantized 6dp so the
    recurrence inputs are bit-identical cross-engine), then the exact
    EWMA recurrence folded once per series through a JVM higher-order
    aggregate — no Python, no per-step self-join; oracle = recursive-CTE
    replay of the same recurrence."""
    from datamine_v2_0_spark.operators import timeseries as tsr

    df = _t(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600).cast("long")) * 3600).cast("long")
    )
    hourly = df.groupBy(
        "event_type", bucket.alias("bucket")
        # 4 dp, not 6: the bucket SUM's float error grows with rows per
        # bucket (n*eps*magnitude ~ 1e-6 at the 16x replica) and the two
        # engines' summation orders then straddle a 1e-6 quantum — the
        # round-7 16x sweep caught exactly that; at 1e-4 the margin is
        # ~100x at 16x and the recurrence inputs stay bit-identical
    ).agg((F.floor(F.avg("value") * 1e4 + F.lit(0.5)) / 1e4).alias("value"))
    return tsr.ewma_smooth(hourly, ["event_type"], "bucket", "value", alpha=0.3)

SQL_TS_EWMA = """
WITH RECURSIVE b AS (
  SELECT event_type,
         make_timestamp(CAST(floor(epoch(ts)/3600)*3600*1000000 AS BIGINT))
           AS bucket,
         floor(AVG(value) * 1e4 + 0.5) / 1e4 AS value
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM b
), r AS (
  SELECT event_type, bucket, value, rn, value AS ewma FROM s WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.bucket, s.value, s.rn,
         0.3 * s.value + (1.0 - 0.3) * r.ewma
  FROM s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, bucket, value, ROUND(ewma, 6) AS ewma FROM r
"""

def q_ts_ohlc(spark, sf_dir):
    """Daily OHLC bars per event type — first/last by (ts, event_id) via
    min_by/max_by over a struct: ONE hash aggregate, no window, no second
    shuffle."""
    from datamine_v2_0_spark.operators import timeseries as tsr

    df = _t(spark, sf_dir, "events")
    return tsr.ohlc_resample(df, ["event_type"], "ts", "value", 86400, tiebreak="event_id")

SQL_TS_OHLC = """
SELECT event_type,
       make_timestamp(CAST(floor(epoch(ts)/86400)*86400*1000000 AS BIGINT))
         AS bucket,
       ROUND(first(value ORDER BY ts, event_id), 6) AS open,
       ROUND(MAX(value), 6) AS high,
       ROUND(MIN(value), 6) AS low,
       ROUND(last(value ORDER BY ts, event_id), 6) AS close,
       ROUND(SUM(value), 6) AS vsum,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""

def q_qa_psi(spark, sf_dir):
    """Population Stability Index of the event value distribution,
    first half of the month (reference) vs second half (current) — the
    train/serve drift monitor. Grid = 10 equal-width bins frozen from
    the reference min/max."""
    from datamine_v2_0_spark.operators import quality as qa

    df = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    return qa.population_stability(
        df.filter(F.col("ts") < cut), df.filter(F.col("ts") >= cut), "value"
    )

SQL_QA_PSI = """
WITH ref AS (SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'),
cur AS (SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
stats AS (
  SELECT CAST(MIN(value) AS DOUBLE) AS mn, CAST(MAX(value) AS DOUBLE) AS mx
  FROM ref
), rb AS (
  SELECT LEAST(GREATEST(CAST(floor((CAST(value AS DOUBLE) - s.mn)
                        / ((s.mx - s.mn) / 10.0)) AS BIGINT), 0), 9) AS bin,
         COUNT(*) AS n_ref
  FROM ref, stats s WHERE value IS NOT NULL GROUP BY 1
), cb AS (
  SELECT LEAST(GREATEST(CAST(floor((CAST(value AS DOUBLE) - s.mn)
                        / ((s.mx - s.mn) / 10.0)) AS BIGINT), 0), 9) AS bin,
         COUNT(*) AS n_cur
  FROM cur, stats s WHERE value IS NOT NULL GROUP BY 1
), grid AS (
  SELECT unnest(generate_series(CAST(0 AS BIGINT), CAST(9 AS BIGINT))) AS bin
), g AS (
  SELECT grid.bin,
         COALESCE(rb.n_ref, 0) AS n_ref, COALESCE(cb.n_cur, 0) AS n_cur
  FROM grid LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)
), tot AS (
  SELECT CAST(SUM(n_ref) AS DOUBLE) AS tr, CAST(SUM(n_cur) AS DOUBLE) AS tc
  FROM g
)
SELECT bin, n_ref, n_cur,
       ROUND(GREATEST(n_ref / t.tr, 1e-6), 6) AS p_ref,
       ROUND(GREATEST(n_cur / t.tc, 1e-6), 6) AS p_cur,
       ROUND((GREATEST(n_ref / t.tr, 1e-6) - GREATEST(n_cur / t.tc, 1e-6))
             * LN(GREATEST(n_ref / t.tr, 1e-6)
                  / GREATEST(n_cur / t.tc, 1e-6)), 6) AS psi_term
FROM g, tot t
"""

# Whale-basket guard for the co-purchase edge derivation — the query
# uses the public operator's default; the SQL oracle applies the same
# cap so both engines exclude the same baskets. The guard's semantics
# (exclusion, tunability, max_basket=None opt-out) live on
# operators/graph.co_purchase_edges.
MAX_BASKET = 1000


def q_graph_pagerank(spark, sf_dir):
    """PageRank quality weighting over the part co-purchase graph
    (parts sharing an order, symmetrized, distinct): 5 fixed power-
    method iterations, each ONE co-partitioned join + aggregate over a
    once-materialized edge+degree table. Per-iteration quantization
    makes the floats engine-reproducible; oracle = the same 5 steps
    unrolled as chained CTEs. Whale baskets are excluded before the
    quadratic self-join (co_purchase_edges' max_basket guard,
    MAX_BASKET here = the operator default, mirrored in the oracle)."""
    from datamine_v2_0_spark.operators import graph as gr

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = gr.co_purchase_edges(
        li, "l_orderkey", "l_partkey", max_basket=MAX_BASKET
    )
    return gr.pagerank(edges, n_iter=5, damping=0.85)


def _pagerank_sql(iters: int = 5) -> str:
    head = f"""
WITH ok AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(*) <= {MAX_BASKET}
), li AS (
  SELECT l.l_orderkey, l.l_partkey FROM lineitem l JOIN ok USING (l_orderkey)
), e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes, n)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
r{i} AS (
  SELECT nodes.node,
         floor(((1.0 - 0.85) / n.n + 0.85 * COALESCE(c.s, 0.0)) * 1e9 + 0.5)
           / 1e9 AS rank
  FROM nodes
  LEFT JOIN (SELECT ed.dst AS node, SUM(r{i-1}.rank / ed.deg) AS s
             FROM ed JOIN r{i-1} ON r{i-1}.node = ed.src
             GROUP BY ed.dst) c USING (node)
  CROSS JOIN n
)""")
    return head + "".join(steps) + f"""
SELECT node, ROUND(rank, 6) AS rank FROM r{iters}
"""

SQL_GRAPH_PAGERANK = _pagerank_sql(5)

def q_ts_cusum(spark, sf_dir):
    """CUSUM drift detection over hourly per-type means (quantized so
    the recurrence inputs are bit-identical cross-engine): same
    resample-then-fold shape as ts_ewma; oracle = recursive-CTE replay
    of both one-sided recurrences."""
    from datamine_v2_0_spark.operators import timeseries as tsr

    df = _t(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600).cast("long")) * 3600).cast("long")
    )
    hourly = df.groupBy(
        "event_type", bucket.alias("bucket")
        # same 4 dp quantum as ts_ewma (identical hourly-bucket-mean
        # shape feeding a recurrence): preventive — the float error of a
        # bucket SUM grows with rows per bucket and crossed the 1e-6
        # quantum for ewma on the 16x replica
    ).agg((F.floor(F.avg("value") * 1e4 + F.lit(0.5)) / 1e4).alias("value"))
    return tsr.cusum_detect(
        hourly, ["event_type"], "bucket", "value",
        target=50.0, slack=0.5, threshold=40.0,
    )

SQL_TS_CUSUM = """
WITH RECURSIVE b AS (
  SELECT event_type,
         make_timestamp(CAST(floor(epoch(ts)/3600)*3600*1000000 AS BIGINT))
           AS bucket,
         floor(AVG(value) * 1e4 + 0.5) / 1e4 AS value
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM b
), r AS (
  SELECT event_type, bucket, value, rn,
         GREATEST(0.0, value - 50.0 - 0.5) AS up,
         GREATEST(0.0, 50.0 - value - 0.5) AS dn
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.bucket, s.value, s.rn,
         GREATEST(0.0, r.up + (s.value - 50.0 - 0.5)),
         GREATEST(0.0, r.dn + (50.0 - s.value - 0.5))
  FROM s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, bucket, value,
       ROUND(up, 6) AS cusum_up, ROUND(dn, 6) AS cusum_down,
       (ROUND(up, 6) > 40.0 OR ROUND(dn, 6) > 40.0) AS alarm
FROM r
"""

def q_ts_seasonal(spark, sf_dir):
    """Hour-of-week seasonal-baseline anomaly flags
    (operators/timeseries.seasonal_baseline_anomalies): one 168-slot
    baseline aggregate per key, one co-partitioned join back."""
    from datamine_v2_0_spark.operators.timeseries import (
        seasonal_baseline_anomalies,
    )

    ev = _t(spark, sf_dir, "events")
    out = seasonal_baseline_anomalies(
        ev, ["event_type"], "ts", "value", z_threshold=3.0
    )
    return out.select(
        "event_id", "event_type", "how_slot", "baseline_mean", "z_score"
    )

SQL_TS_SEASONAL = """
WITH slotted AS (
  SELECT event_id, event_type, value,
         (CAST(dayofweek(ts) AS INT)) * 24 + hour(ts) AS how_slot
  FROM events
), base AS (
  SELECT event_type, how_slot, COUNT(*) AS n,
         AVG(value) AS m, STDDEV_SAMP(value) AS sd
  FROM slotted GROUP BY event_type, how_slot
  HAVING COUNT(*) >= 2 AND STDDEV_SAMP(value) > 0
)
SELECT s.event_id, s.event_type, CAST(s.how_slot AS INT) AS how_slot,
       ROUND(b.m, 6) AS baseline_mean,
       ROUND((s.value - b.m) / b.sd, 6) AS z_score
FROM slotted s JOIN base b USING (event_type, how_slot)
WHERE ABS(ROUND((s.value - b.m) / b.sd, 6)) > 3.0
"""


def q_val_label_windows(spark, sf_dir):
    """Ground-truth window builder (the archived visual validator's
    grouping, 05_validate_candidates_visually.py:86-118): consecutive
    same-type events per user merge into windows while the gap stays
    under 4 h."""
    from datamine_v2_0_spark.operators import validation as vl

    ev = _t(spark, sf_dir, "events")
    out = vl.label_windows(
        ev, ["user_id"], "ts", "event_type", 14400.0, tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "label",
        F.col("win_start").cast("string").alias("win_start"),
        F.col("win_end").cast("string").alias("win_end"),
        "n_events",
    )

SQL_VAL_LABEL_WINDOWS = """
WITH d AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER w AS pl,
         date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT user_id, ts, event_type,
         SUM(CASE WHEN pl IS NULL OR pl <> event_type
                       OR gap_us > 14400000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM d
)
SELECT user_id, event_type AS label,
       CAST(MIN(ts) AS VARCHAR) AS win_start,
       CAST(MAX(ts) AS VARCHAR) AS win_end,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, event_type, grp
"""


def q_val_candidate_clustering(spark, sf_dir):
    """Candidate-clustering summary (05_validate_candidates_visually.py:
    253-312): click events as detected candidates vs purchase
    ground-truth windows (4 h grouping), near tolerance ±2 h."""
    from datamine_v2_0_spark.operators import validation as vl

    ev = _t(spark, sf_dir, "events")
    truth = vl.label_windows(
        ev.filter(F.col("event_type") == "purchase"),
        ["user_id"], "ts", "event_type", 14400.0, tiebreak="event_id",
    )
    cands = ev.filter(F.col("event_type") == "click")
    return vl.candidate_clustering(
        truth, cands, [("user_id", "user_id")],
        "win_start", "win_end", "ts", 7200.0,
    )

SQL_VAL_CANDIDATE_CLUSTERING = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), d AS (
  SELECT user_id, ts,
         date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us,
         event_id
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT user_id, ts,
         SUM(CASE WHEN gap_us IS NULL OR gap_us > 14400000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM d
), w AS (
  SELECT user_id, grp, MIN(ts) AS ws, MAX(ts) AS we
  FROM g GROUP BY user_id, grp
), c AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
), per AS (
  SELECT w.user_id, w.grp,
         COUNT(c.ts) AS near_n,
         COUNT(*) FILTER (WHERE c.ts BETWEEN w.ws AND w.we) AS in_n
  FROM w LEFT JOIN c
    ON c.user_id = w.user_id
   AND c.ts BETWEEN w.ws - INTERVAL 7200 SECONDS
                AND w.we + INTERVAL 7200 SECONDS
  GROUP BY w.user_id, w.grp, w.ws, w.we
)
SELECT (SELECT COUNT(*) FROM c) AS total_candidates,
       COUNT(*) AS total_truth_windows,
       CAST(SUM(in_n) AS BIGINT) AS candidates_in_windows,
       CAST(SUM(near_n) AS BIGINT) AS candidates_near_windows,
       CAST(SUM(CASE WHEN near_n = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS empty_windows,
       ROUND(CAST(100 AS DOUBLE)
             * AVG(CASE WHEN near_n > 0 THEN 1.0 ELSE 0.0 END), 4)
           AS window_hit_rate
FROM per
"""


def q_val_signal_context(spark, sf_dir):
    """Per-candidate signal context (the numeric distillation of the
    archived validator's plot, 05_validate_candidates_visually.py:
    176-249): for every error event, mean/std/count of ALL events'
    value in the 48 h before and after, plus mean shift and SNR."""
    from datamine_v2_0_spark.operators import validation as vl

    ev = _t(spark, sf_dir, "events")
    cands = ev.filter(F.col("event_type") == "error")
    # value_scale=100: events.value is a 2-decimal reading, so the
    # window stats come from exact integer sums and stay bit-identical
    # cross-engine at ANY per-user frame size (the skewed-replica sweep
    # planted a user holding half the events and the plain window AVG
    # diverged at the 6 dp boundary)
    out = vl.candidate_signal_context(
        ev, cands, ["user_id"], "ts", "value", "event_id",
        172800.0, 172800.0, value_scale=100,
    )
    return out.withColumn("ts", F.col("ts").cast("string"))

SQL_VAL_SIGNAL_CONTEXT = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS t,
         TRY_CAST(ROUND(value * 100.0) AS BIGINT) AS c,
         CAST(NULL AS BIGINT) AS cid, CAST(NULL AS TIMESTAMP) AS cts
  FROM events
  UNION ALL
  SELECT user_id, epoch_us(ts), NULL, event_id, ts
  FROM events WHERE event_type = 'error'
), s AS (
  SELECT cid, cts, user_id,
         SUM(c) OVER wb AS s1b, SUM(c * c) OVER wb AS s2b,
         COUNT(c) OVER wb AS n_before,
         SUM(c) OVER wa AS s1a, SUM(c * c) OVER wa AS s2a,
         COUNT(c) OVER wa AS n_after
  FROM u
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY t
           RANGE BETWEEN 172800000000 PRECEDING AND 1 PRECEDING),
    wa AS (PARTITION BY user_id ORDER BY t
           RANGE BETWEEN 1 FOLLOWING AND 172800000000 FOLLOWING)
), m AS (
  SELECT cid, cts, user_id, n_before, n_after,
         CAST(s1b AS DOUBLE) / (CAST(n_before AS DOUBLE) * 100.0) AS mb,
         CASE WHEN n_before > 1 THEN
           SQRT(GREATEST(
             (CAST(n_before AS DOUBLE) * CAST(s2b AS DOUBLE)
              - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE))
             / (CAST(n_before AS DOUBLE) * (CAST(n_before AS DOUBLE) - 1.0)),
             0.0)) / 100.0
         END AS sb,
         CAST(s1a AS DOUBLE) / (CAST(n_after AS DOUBLE) * 100.0) AS ma,
         CASE WHEN n_after > 1 THEN
           SQRT(GREATEST(
             (CAST(n_after AS DOUBLE) * CAST(s2a AS DOUBLE)
              - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE))
             / (CAST(n_after AS DOUBLE) * (CAST(n_after AS DOUBLE) - 1.0)),
             0.0)) / 100.0
         END AS sa
  FROM s
)
SELECT cid AS event_id, CAST(cts AS VARCHAR) AS ts, user_id,
       ROUND(mb, 6) AS mean_before, ROUND(sb, 6) AS std_before, n_before,
       ROUND(ma, 6) AS mean_after, ROUND(sa, 6) AS std_after, n_after,
       ROUND(ma - mb, 6) AS mean_shift,
       CASE WHEN SQRT((sb * sb + sa * sa) / 2.0) > 0
            THEN ROUND(ABS(ma - mb) / SQRT((sb * sb + sa * sa) / 2.0), 6)
       END AS snr
FROM m WHERE cid IS NOT NULL
"""
