"""Scalar/JSON/WKT/binning contract queries + oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datamine_v2_0_spark.functions.scalars import (
    bool_from_text,
    device_date,
    json_string_literal,
    parse_position,
    pg_timestamptz_text,
    raw_event_hash_id,
    validate_json,
)
from datamine_v2_0_spark.queries.base import (
    _PG_TS_SQL,
    _events_window,
    _t,
)


def q_scalar_hash_id(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    dev = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    return df.select(
        "event_id",
        raw_event_hash_id(dev, F.col("ts")).alias("hash_id"),
        pg_timestamptz_text(F.col("ts")).alias("ts_text"),
    )

SQL_SCALAR_HASH_ID = f"""
SELECT event_id,
       sha256('u' || CAST(user_id AS VARCHAR) || '|' ||
              {_PG_TS_SQL.format(c='ts')}) AS hash_id,
       {_PG_TS_SQL.format(c='ts')} AS ts_text
FROM events
"""

def q_scalar_silver(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    dev = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    # NULL-preserving flag text: a NULL value is UNKNOWN engagement, not
    # 'f' — when/otherwise would coerce it to false while the oracle's
    # `value > 50.0` correctly yields NULL
    flag_text = F.when(F.col("value") > 50.0, F.lit("t")).when(
        F.col("value") <= 50.0, F.lit("f")
    )
    return df.select(
        "event_id",
        device_date(dev, F.col("ts")).alias("device_date"),
        validate_json(F.col("props")).alias("extras"),
        bool_from_text(flag_text).alias("engaged"),
        json_string_literal(F.col("event_type")).alias("type_json"),
    )

SQL_SCALAR_SILVER = r"""
SELECT event_id,
       'u' || CAST(user_id AS VARCHAR) || '_' || strftime(ts, '%Y-%m-%d')
           AS device_date,
       CASE WHEN props IS NULL OR trim(props) = '' THEN NULL
            WHEN regexp_matches(props, '^\s*\{.*\}\s*$')
              OR regexp_matches(props, '^\s*\[.*\]\s*$') THEN props
            ELSE CAST(to_json(props) AS VARCHAR) END AS extras,
       value > 50.0 AS engaged,
       CAST(to_json(event_type) AS VARCHAR) AS type_json
FROM events
"""

def q_scalar_position(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    lat_v = F.col("value") % F.lit(80.0)
    lon_v = F.col("value") % F.lit(170.0)
    pos_text = F.concat(
        F.lit("{"),
        lat_v.cast("string"),
        F.lit(","),
        lon_v.cast("string"),
        F.lit(",100.0}"),
    )
    pos = parse_position(pos_text)
    return df.select(
        "event_id",
        pos["latitude"].alias("lat"),
        pos["longitude"].alias("lon"),
        pos["altitude"].alias("alt"),
    )

SQL_SCALAR_POSITION = """
SELECT event_id,
       value % 80.0 AS lat,
       value % 170.0 AS lon,
       CAST(100.0 AS DOUBLE) AS alt
FROM events
"""

def q_sql_views(spark, sf_dir):
    """S10: the SQL-text API surface — register temp views, run a query
    through spark.sql (the engine-native analog of pd.read_sql_query)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               -- exact decimal money sum (TPC-H defines these columns
               -- DECIMAL(15,2)): double tree-vs-sequential summation
               -- order crosses cent-rounding boundaries at scale
               CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(3,2))
                                 - CAST(l_discount AS DECIMAL(3,2)))
                              AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue
        FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= DATE '1995-01-01'
        GROUP BY o_orderstatus
        """
    )

SQL_SQL_VIEWS = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(3,2))
                              - CAST(l_discount AS DECIMAL(3,2)))
                           AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY o_orderstatus
"""

def q_eda_movement(spark, sf_dir):
    from datamine_v2_0_spark.operators.spatial import movement_speed

    df = _t(spark, sf_dir, "events")
    w = _events_window()
    lat = F.col("value") % F.lit(80.0)
    lon = F.col("value") % F.lit(170.0)
    return df.select(
        "event_id",
        F.round(movement_speed(lat, lon, "ts", w), 6).alias("speed"),
    )

SQL_EDA_MOVEMENT = """
WITH p AS (
  SELECT event_id, user_id, ts,
         value % 80.0 AS lat, value % 170.0 AS lon
  FROM events
), d AS (
  SELECT event_id,
         lat - LAG(lat) OVER w AS dlat,
         lon - LAG(lon) OVER w AS dlon,
         CAST(date_diff('microsecond', LAG(ts) OVER w, ts) AS DOUBLE)
             / 1000000.0 AS dt
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id,
       ROUND(CASE WHEN dt > 0 THEN SQRT(dlat * dlat + dlon * dlon) / dt END, 6)
           AS speed
FROM d
"""

def q_scalar_wkt(spark, sf_dir):
    """WKT text boundary (ST_AsText / ST_GeogFromText / ST_X-Y-Z parity):
    render POINT Z at fixed precision, parse it back, emit both."""
    from datamine_v2_0_spark.functions.wkt import parse_wkt_point, wkt_point

    df = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    lon = (F.col("value") % F.lit(170.0)) - F.lit(85.0)
    lat = (F.col("user_id") % F.lit(160)).cast("double") - F.lit(80.0)
    alt = (F.col("event_id") % F.lit(4000)).cast("double")
    rendered = wkt_point(lon, lat, alt)
    parsed = parse_wkt_point(rendered)
    return df.select(
        "event_id",
        rendered.alias("wkt"),
        parsed["lon"].alias("x"),
        parsed["lat"].alias("y"),
        parsed["alt"].alias("z"),
    )

SQL_SCALAR_WKT = """
WITH pts AS (
  SELECT event_id,
         printf('POINT Z (%.6f %.6f %.6f)',
                fmod(value, 170.0) - 85.0,
                CAST(user_id % 160 AS DOUBLE) - 80.0,
                CAST(event_id % 4000 AS DOUBLE)) AS wkt
  FROM events WHERE value IS NOT NULL
)
SELECT event_id, wkt,
       CAST(regexp_extract(wkt, 'POINT Z \\(([-0-9.]+) ([-0-9.]+) ([-0-9.]+)\\)', 1) AS DOUBLE) AS x,
       CAST(regexp_extract(wkt, 'POINT Z \\(([-0-9.]+) ([-0-9.]+) ([-0-9.]+)\\)', 2) AS DOUBLE) AS y,
       CAST(regexp_extract(wkt, 'POINT Z \\(([-0-9.]+) ([-0-9.]+) ([-0-9.]+)\\)', 3) AS DOUBLE) AS z
FROM pts
"""

def q_scalar_binning(spark, sf_dir):
    from datamine_v2_0_spark.operators import binning as bn

    df = _t(spark, sf_dir, "lineitem")
    binned = df.select(
        bn.fixed_width_bins(F.col("l_quantity"), 0.0, 50.0, 10).alias("qty_bin"),
        bn.explicit_bins(
            F.col("l_extendedprice"), [0.0, 10000.0, 50000.0, 1e9]
        ).alias("price_bin"),
    )
    return binned.groupBy("qty_bin", "price_bin").agg(
        F.count(F.lit(1)).alias("n")
    )

SQL_SCALAR_BINNING = """
SELECT CASE WHEN l_quantity BETWEEN 0.0 AND 50.0
            THEN LEAST(9, CAST(FLOOR(l_quantity / 5.0) AS INT))
            ELSE NULL END AS qty_bin,
       CASE WHEN l_extendedprice > 0.0 AND l_extendedprice <= 10000.0 THEN 0
            WHEN l_extendedprice > 10000.0 AND l_extendedprice <= 50000.0 THEN 1
            WHEN l_extendedprice > 50000.0 AND l_extendedprice <= 1e9 THEN 2
            ELSE NULL END AS price_bin,
       COUNT(*) AS n
FROM lineitem GROUP BY 1, 2
"""

def q_scalar_quantile_bins(spark, sf_dir):
    from datamine_v2_0_spark.operators import binning as bn

    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = bn.quantile_bins_exact(df, "o_totalprice", 4, "price_q", "o_orderkey")
    return out.groupBy("price_q").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )

SQL_SCALAR_QUANTILE_BINS = """
WITH b AS (
  SELECT o_totalprice,
         NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS price_q
  FROM orders
)
SELECT price_q, COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 4) AS lo, ROUND(MAX(o_totalprice), 4) AS hi
FROM b GROUP BY price_q
"""

def q_scalar_json(spark, sf_dir):
    """Typed JSON path extraction over the events props column, rolled
    up per event type — the (props ->> 'k')::int shape."""
    from datamine_v2_0_spark.functions.scalars import json_extract_typed

    ev = _t(spark, sf_dir, "events")
    k = json_extract_typed(F.col("props"), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        (F.floor(F.avg(k) * 1e6 + F.lit(0.5)) / 1e6).alias("avg_k"),
    )

SQL_SCALAR_JSON = """
SELECT event_type,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       MIN(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
       floor(AVG(TRY_CAST(json_extract_string(props, '$.k') AS INT)) * 1e6 + 0.5)
         / 1e6 AS avg_k
FROM events GROUP BY event_type
"""

def q_geo_radius_join(spark, sf_dir):
    """Grid-bucketed spatial radius self-join over the synthesized event
    positions (same coordinate convention as eda_movement): cell side =
    radius ⇒ any in-radius pair shares a 3×3 neighborhood ⇒ equi join on
    cell keys + exact distance verify — never all-pairs, full recall by
    construction. Oracle = brute-force pair join (DuckDB IEJoin)."""
    from datamine_v2_0_spark.operators.spatial import grid_radius_join

    df = _t(spark, sf_dir, "events")
    # keep the pair set small and deterministic: one user's events
    sub = df.filter(F.col("user_id") % 50 == 0)
    return grid_radius_join(
        sub, F.col("value") % F.lit(80.0), F.col("value") % F.lit(170.0),
        "event_id", radius=0.5,
    )

SQL_GEO_RADIUS_JOIN = """
WITH p AS (
  SELECT event_id, value % 80.0 AS lat, value % 170.0 AS lon
  FROM events WHERE user_id % 50 = 0 AND value IS NOT NULL
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       ROUND(SQRT((a.lat - b.lat) * (a.lat - b.lat)
                  + (a.lon - b.lon) * (a.lon - b.lon)), 6) AS dist
FROM p a JOIN p b
  ON a.event_id < b.event_id
 AND ABS(a.lat - b.lat) <= 0.5 AND ABS(a.lon - b.lon) <= 0.5
WHERE SQRT((a.lat - b.lat) * (a.lat - b.lat)
           + (a.lon - b.lon) * (a.lon - b.lon)) <= 0.5
"""
