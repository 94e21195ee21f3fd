"""End-to-end pipeline-stage contract queries + oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datamine_v2_0_spark.pipeline import cpd
from datamine_v2_0_spark.pipeline.curation import curate_corpus
from datamine_v2_0_spark.pipeline.features import build_features
from datamine_v2_0_spark.pipeline.silver import silver_transform
from datamine_v2_0_spark.queries.base import (
    _PG_TS_SQL,
    _t,
)


def q_cpd_candidates(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "ukey", F.concat(F.lit("u"), F.col("user_id").cast("string"))
    )
    return cpd.cpd_pipeline(
        ev,
        "ukey",
        "ts",
        ["value"],
        "event_id",
        duration="6 hours",
        penalty=1000.0,
        min_size=4,
    ).select(
        "partition_key",
        "signal_name",
        F.col("bucket_ts").cast("string").alias("bucket_ts"),
        F.col("bucket_id").cast("string").alias("bucket_id"),
    )

def _raw_from_events(df: DataFrame) -> DataFrame:
    """Shape the generic events table like the 11-column raw telemetry CSV
    so the full silver chain runs on driver testdata."""
    state = F.element_at(
        F.array(F.lit("idle"), F.lit("loadToDump"), F.lit("JUNK")),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    prndl = F.element_at(
        F.array(F.lit("p"), F.lit("drive"), F.lit("x")),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    lat_v = F.col("value") % F.lit(80.0)
    lon_v = F.col("value") % F.lit(170.0)
    pos = F.concat(
        F.lit("{"), lat_v.cast("string"), F.lit(","), lon_v.cast("string"),
        F.lit(",100.0}"),
    )
    return df.select(
        F.col("event_id"),
        F.col("ts").cast("string").alias("timestamp"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("device_id"),
        state.alias("state"),
        F.col("event_type").alias("software_state"),
        F.when(F.col("value") > 50.0, F.lit("t")).otherwise(F.lit("f")).alias(
            "system_engaged"
        ),
        (F.col("value") % F.lit(10.0)).alias("current_speed"),
        pos.alias("current_position"),
        (F.col("value") * 1000.0).alias("load_weight"),
        prndl.alias("prndl"),
        F.lit("f").alias("parking_brake_applied"),
        F.col("props").alias("extras"),
    )

def q_pipeline_silver(spark, sf_dir):
    raw = _raw_from_events(_t(spark, sf_dir, "events"))
    out = silver_transform(
        raw, ingested_at=F.lit(None).cast("timestamp"), passthrough=["event_id"]
    )
    return out.select(
        "event_id",
        "raw_event_hash_id",
        "device_date",
        "state",
        "prndl",
        "system_engaged",
        F.round(F.col("current_position.latitude"), 6).alias("lat"),
        "extras",
    )

SQL_PIPELINE_SILVER = f"""
SELECT event_id,
       sha256('u' || CAST(user_id AS VARCHAR) || '|' ||
              {_PG_TS_SQL.format(c='ts')}) AS raw_event_hash_id,
       'u' || CAST(user_id AS VARCHAR) || '_' || strftime(ts, '%Y-%m-%d')
           AS device_date,
       CASE event_id % 3 WHEN 0 THEN 'idle' WHEN 1 THEN 'hauling'
            ELSE 'unknown' END AS state,
       CASE event_id % 3 WHEN 0 THEN 'park' WHEN 1 THEN 'drive'
            ELSE 'unknown' END AS prndl,
       value > 50.0 AS system_engaged,
       ROUND(value % 80.0, 6) AS lat,
       props AS extras
FROM events
"""

def q_pipeline_features(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    silver = ev.select(
        "event_id",
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("device_id"),
        F.concat(
            F.lit("u"), F.col("user_id").cast("string"), F.lit("_"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("device_date"),
        F.col("ts").alias("timestamp"),
        (F.col("value") % F.lit(10.0)).alias("current_speed"),
        (F.col("value") * 1000.0).alias("load_weight"),
        F.lit(None).cast(
            "struct<longitude:double,latitude:double,altitude:double>"
        ).alias("current_position"),
        F.when(F.col("event_id") % 2 == 0, "drive").otherwise("park").alias(
            "prndl"
        ),
    )
    feats = build_features(silver)
    return feats.select(
        "event_id",
        "location_type",
        "is_stationary",
        F.col("stationary_block_id").cast("long").alias("stationary_block_id"),
        F.round("speed_rolling_avg_5s", 6).alias("speed_rolling_avg_5s"),
        F.round("load_weight_rate_of_change", 6).alias("lw_roc"),
        F.round("time_in_stationary_state", 6).alias("time_in_stat"),
        "has_reliable_payload",
        "prndl_drive",
        "is_heavy_load",
    )

SQL_PIPELINE_FEATURES = """
WITH silver AS (
  SELECT event_id,
         'u' || CAST(user_id AS VARCHAR) AS device_id,
         'u' || CAST(user_id AS VARCHAR) || '_' || strftime(ts, '%Y-%m-%d')
             AS device_date,
         ts, value % 10.0 AS speed, value * 1000.0 AS lw,
         CASE WHEN event_id % 2 = 0 THEN 'drive' ELSE 'park' END AS prndl
  FROM events
), p1 AS (
  SELECT *,
         speed < 0.5 AS is_stationary,
         CAST(date_diff('microsecond', LAG(ts) OVER w, ts) AS DOUBLE)
             / 1000000.0 AS time_delta_s,
         AVG(speed) OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
             AS speed_rolling_avg_5s,
         AVG(lw) OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
             AS lw_smoothed
  FROM silver
  WINDOW w AS (PARTITION BY device_id, device_date ORDER BY ts)
), p1b AS (
  SELECT *,
         lw_smoothed - LAG(lw_smoothed) OVER w AS lw_roc,
         CASE WHEN LAG(is_stationary) OVER w IS NULL
               OR LAG(is_stationary) OVER w <> is_stationary
              THEN 1 ELSE 0 END AS chg,
         STDDEV(lw) OVER (PARTITION BY device_id) > 1000.0
             AS has_reliable_payload
  FROM p1
  WINDOW w AS (PARTITION BY device_id, device_date ORDER BY ts)
), p2 AS (
  SELECT *,
         CAST(SUM(chg) OVER (PARTITION BY device_id, device_date ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS stationary_block_id
  FROM p1b
), p3 AS (
  SELECT *,
         SUM(COALESCE(time_delta_s, 0.0))
             OVER (PARTITION BY device_id, device_date, stationary_block_id
                   ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS run_stat
  FROM p2
)
SELECT event_id,
       'Haul Road / Other' AS location_type,
       is_stationary,
       stationary_block_id,
       ROUND(speed_rolling_avg_5s, 6) AS speed_rolling_avg_5s,
       ROUND(lw_roc, 6) AS lw_roc,
       ROUND(CASE WHEN is_stationary THEN run_stat ELSE 0.0 END, 6)
           AS time_in_stat,
       has_reliable_payload,
       prndl = 'drive' AS prndl_drive,
       lw_smoothed > 50000.0 AS is_heavy_load
FROM p3
"""

def q_pipeline_curation(spark, sf_dir):
    """The canonical pre-training curation chain end-to-end: Gopher
    quality gate → exact dedup (keep lowest id) → 4-gram
    decontamination against the doc_id %% 29 == 0 eval slice → token /
    quality stats for the survivors. One lazy lineage, four narrow
    shuffles total (dedup groupBy + semi join, decontamination hit-agg
    + semi join); the gate and the final stats are exchange-free
    codegen."""
    df = _t(spark, sf_dir, "documents")
    ev = df.filter(F.col("doc_id") % 29 == 0)
    tr = df.filter(F.col("doc_id") % 29 != 0)
    # min_stopwords=1: the synthetic corpus draws from a tech vocabulary
    # where only ~half the docs contain a Gopher-required stopword at
    # all; 1 keeps the rule live without making the gate vacuous.
    # barrier stays None here: the decontamination branch re-derives the
    # scan→gate→dedup prefix (plan: 3 corpus scans), but an interleaved
    # in-JVM A/B measured the checkpoint barrier SLOWER at this scale
    # (min-of-4: 1.59 s None vs 2.11 s checkpoint — materializing the
    # survivors-with-text outweighs one cheap duplicated gate pass).
    # On a live cluster where the gate is the dominant full-corpus
    # regexp pass, pass barrier='checkpoint'/'table' (the operator
    # docstring prescribes exactly that); results are identical either
    # way — the barrier is a physical-plan choice.
    return curate_corpus(
        tr, ev, "text", "doc_id", min_words=10, ngram=4, min_stopwords=1
    )

SQL_PIPELINE_CURATION = r"""
WITH train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 29 <> 0
), evaldocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 29 = 0
), base AS (
  SELECT doc_id, text,
         CASE WHEN len(trim(text)) > 0
              THEN string_split_regex(trim(text), '\s+')
              ELSE [] END AS w,
         string_split(text, chr(10)) AS l
  FROM train
), sig AS (
  SELECT doc_id, text,
         len(w) AS n_words,
         ROUND(CASE WHEN len(w) > 0
               THEN list_aggregate(list_transform(w, x -> length(x)), 'sum')
                    / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 6) AS mean_word_len,
         ROUND(CASE WHEN len(w) > 0
               THEN (len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '(\.\.\.|…)')))
                    / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 6) AS symbol_word_ratio,
         ROUND(CASE WHEN len(w) > 0
               THEN len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                    / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 6) AS alpha_word_frac,
         ROUND(CASE WHEN len(l) > 0
               THEN len(list_filter(l, x -> regexp_matches(trim(x), '^[-*•]')))
                    / CAST(len(l) AS DOUBLE) ELSE 0.0 END, 6) AS bullet_line_frac,
         ROUND(CASE WHEN len(l) > 0
               THEN len(list_filter(l, x -> regexp_matches(trim(x), '(\.\.\.|…)$')))
                    / CAST(len(l) AS DOUBLE) ELSE 0.0 END, 6) AS ellipsis_line_frac,
         len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM base
), passed AS (
  SELECT doc_id, text FROM sig
  WHERE n_words >= 10 AND n_words <= 100000
    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    AND symbol_word_ratio <= 0.1
    AND bullet_line_frac <= 0.9
    AND ellipsis_line_frac <= 0.3
    AND alpha_word_frac >= 0.8
    AND n_stop >= 1
), keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM passed
  GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
), deduped AS (
  SELECT p.doc_id, p.text FROM passed p JOIN keepers k USING (doc_id)
), dgrams AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+3], ' ')
                for i in generate_series(1, len(w) - 3)])) AS gram
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM deduped WHERE len(trim(text)) > 0)
  WHERE len(w) >= 4
), egrams AS (
  SELECT DISTINCT unnest(list_distinct([array_to_string(w[i:i+3], ' ')
                for i in generate_series(1, len(w) - 3)])) AS gram
  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        FROM evaldocs WHERE len(trim(text)) > 0)
  WHERE len(w) >= 4
), dirty AS (
  SELECT DISTINCT dg.doc_id FROM dgrams dg JOIN egrams USING (gram)
), clean AS (
  SELECT d.doc_id, d.text FROM deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)
), stats AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN len(text) > 0
              THEN len(regexp_extract_all(text, '[^\sA-Za-z0-9]'))
                   / CAST(len(text) AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS praw
  FROM clean
), stats2 AS (
  SELECT doc_id, text, n_tokens, praw,
         CASE WHEN n_tokens > 0
              THEN len(regexp_extract_all(lower(text),
                       '\b(the|and|of|to|is|in|that|it|for|with)\b'))
                   / CAST(n_tokens AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS sraw
  FROM stats
)
SELECT doc_id, n_tokens,
       ROUND((LEAST(len(text) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
              + LEAST(sraw * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
              + GREATEST(CAST(0.0 AS DOUBLE),
                         CAST(1.0 AS DOUBLE) - praw * CAST(4.0 AS DOUBLE)))
             / CAST(3.0 AS DOUBLE), 6) AS quality
FROM stats2
"""
