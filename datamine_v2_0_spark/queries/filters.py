"""Filter/sampling/corpus-mix contract queries + oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datamine_v2_0_spark.functions.scalars import (
    clamp,
    null_if_outside,
)
from datamine_v2_0_spark.operators import filters as flt
from datamine_v2_0_spark.operators import text as tx
from datamine_v2_0_spark.queries.base import _t


def q_filt_project_range(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    df = flt.time_range(df, "ts", "2024-01-05 00:00:00", "2024-01-20 00:00:00")
    df = flt.like_filter(df, "event_type", "%i%")
    return flt.project(df, ["event_id", "event_type", "value"])

SQL_FILT_PROJECT_RANGE = """
SELECT event_id, event_type, value FROM events
WHERE ts IS NOT NULL
  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
  AND event_type LIKE '%i%'
"""

def q_filt_clamp(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.agg(
        F.round(F.avg(clamp(F.col("l_quantity"), 5.0, 45.0)), 6).alias("avg_clamped"),
        F.count(null_if_outside(F.col("l_discount"), 0.02, 0.08)).alias(
            "n_mid_discount"
        ),
    )

SQL_FILT_CLAMP = """
SELECT ROUND(AVG(LEAST(GREATEST(l_quantity, 5.0), 45.0)), 6) AS avg_clamped,
       COUNT(CASE WHEN l_discount BETWEEN 0.02 AND 0.08 THEN 1 END)
           AS n_mid_discount
FROM lineitem
"""

def q_filt_sample_mod(spark, sf_dir):
    df = flt.deterministic_sample(_t(spark, sf_dir, "lineitem"), "l_orderkey", 97)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    )

SQL_FILT_SAMPLE_MOD = """
SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 6) AS sum_qty
FROM lineitem WHERE l_orderkey % 97 = 0
"""

def q_filt_between_isin(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    df = flt.between(df, "l_quantity", 10.0, 20.0)
    df = flt.isin_filter(df, "l_returnflag", ["A", "R"])
    df = flt.date_eq(
        df.withColumn("ship_day", F.to_date("l_shipdate")), "l_shipdate", "1996-03-13"
    )
    return df.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))

SQL_FILT_BETWEEN_ISIN = """
SELECT l_returnflag, COUNT(*) AS n FROM lineitem
WHERE l_quantity BETWEEN 10.0 AND 20.0
  AND l_returnflag IN ('A', 'R')
  AND CAST(l_shipdate AS DATE) = DATE '1996-03-13'
GROUP BY 1
"""

def q_filt_token_budget(spark, sf_dir):
    """Training-mix assembly: fill a 500-token budget per source in
    portable pseudorandom order (Knuth multiplicative hash of doc_id)."""
    df = _t(spark, sf_dir, "documents")
    t = df.select(
        "doc_id", "source", tx.token_count_ws(F.col("text")).alias("n_tokens")
    )
    return flt.sample_to_token_budget(
        t, "source", "n_tokens", "doc_id", budget=500
    )

SQL_FILT_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
             PARTITION BY source
             ORDER BY (((((doc_id % 1000000007) * 2654435761 % 4294967296)
                          % 1000000007) * 2246822507) % 4294967296),
                      doc_id) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM o WHERE cum_tokens - n_tokens < 500
"""

def q_filt_balance_strata(spark, sf_dir):
    """Deterministic corpus balancing: every language downsampled to the
    smallest language's count, keeping lowest doc_ids."""
    df = _t(spark, sf_dir, "documents")
    return flt.balance_strata(df, "lang", "doc_id").select(
        "doc_id", "lang", "source"
    )

SQL_FILT_BALANCE_STRATA = r"""
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), m AS (
  SELECT MIN(n) AS mn FROM c
), r AS (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, source FROM r, m WHERE rn <= mn
"""

def q_filt_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle for training-order assembly:
    seeded-hash shard + intra-shard position (the scale-correct 'ORDER
    BY random()' — hash exchange + per-shard sorts, never one global
    range sort)."""
    df = _t(spark, sf_dir, "documents")
    return flt.shard_shuffle(df, "doc_id", n_shards=8, seed=7).select(
        "doc_id", "shard", "pos"
    )

SQL_FILT_SHUFFLE_SHARDS = """
WITH h AS (
  SELECT doc_id,
         ((((((doc_id % 1000000007) * 2654435761 + 7) % 4294967296)
             % 1000000007) * 2246822507 + 7) % 4294967296) AS hh
  FROM documents
)
SELECT doc_id, CAST(hh % 8 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
            AS BIGINT) AS pos
FROM h
"""

def q_filt_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train/valid/test assignment by seeded
    hashed id — disjoint, exhaustive, stable across runs and cluster
    sizes; a pure projection with zero exchanges."""
    df = _t(spark, sf_dir, "documents")
    return flt.hash_split(df, "doc_id", seed=3).select("doc_id", "split")

SQL_FILT_HASH_SPLIT = """
WITH h AS (
  SELECT doc_id,
         (((((((doc_id % 1000000007) * 2654435761 + 3) % 4294967296)
              % 1000000007) * 2246822507 + 3) % 4294967296))
             / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'valid'
            ELSE 'test' END AS split
FROM h
"""

def q_filt_weighted_mix(spark, sf_dir):
    """Training-mixture sampling: per-language keep rates decided by
    seeded id hash (en down-weighted, others kept whole/partial) — the
    rate table folds into the plan as a literal CASE, no join."""
    df = _t(spark, sf_dir, "documents")
    return flt.weighted_mix(
        df,
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.75},
        "doc_id",
        seed=11,
        default_rate=0.25,
    ).select("doc_id", "lang")

SQL_FILT_WEIGHTED_MIX = """
WITH h AS (
  SELECT doc_id, lang,
         (((((((doc_id % 1000000007) * 2654435761 + 11) % 4294967296)
              % 1000000007) * 2246822507 + 11) % 4294967296))
             / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, lang FROM h
WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                    WHEN 'fr' THEN 0.75 ELSE 0.25 END
"""

def q_filt_temperature_mix(spark, sf_dir):
    """Temperature-smoothed multinomial mixture sampling over languages
    (p_lang ∝ n^0.5 — the multilingual-LM rebalance): stratum counts →
    1-row weight total → broadcast rate filter; the corpus never
    shuffles. alpha=0.5 runs on sqrt so the rates are bit-identical in
    any engine."""
    df = _t(spark, sf_dir, "documents")
    out = flt.temperature_mix(df, "lang", "doc_id", target_rows=200, alpha=0.5)
    return out.select(
        "doc_id", "lang", "source", F.round("mix_rate", 6).alias("mix_rate")
    )

SQL_FILT_TEMPERATURE_MIX = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n, sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
  FROM documents GROUP BY lang
), tot AS (SELECT SUM(w) AS tw FROM counts),
rates AS (
  SELECT lang,
         LEAST(1.0, 200.0 * (w / t.tw) / CAST(n AS DOUBLE)) AS mix_rate
  FROM counts, tot t
)
SELECT d.doc_id, d.lang, d.source, ROUND(r.mix_rate, 6) AS mix_rate
FROM documents d JOIN rates r USING (lang)
WHERE (((((((d.doc_id % 1000000007) * 2654435761 + 0) % 4294967296)
           % 1000000007) * 2246822507 + 0) % 4294967296))
      / 4294967296.0 < r.mix_rate
"""


def q_filt_sample_exact_k(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sampling: seeded portable
    hash rank inside each language stratum, k smallest kept
    (operators/filters.stratified_sample_exact_k)."""
    df = _t(spark, sf_dir, "documents")
    return flt.stratified_sample_exact_k(
        df, ["lang"], "doc_id", k=20, seed=7
    ).select("doc_id", "lang")

SQL_FILT_SAMPLE_EXACT_K = """
WITH h1 AS (
  SELECT doc_id, lang,
         ((doc_id % 1000000007) * 2654435761 + 7) % 4294967296 AS hh1
  FROM documents
), h AS (
  SELECT doc_id, lang,
         ((hh1 % 1000000007) * 2246822507 + 7) % 4294967296 AS hh
  FROM h1
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn
  FROM h
)
SELECT doc_id, lang FROM r WHERE rn <= 20
"""


def q_filt_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample at the integer-exact
    operating point: priority = max of w seeded md5-60 hashes (same
    law as u^(1/w)), so the DRAW ITSELF is replicated bit-for-bit by
    the oracle — no pow/ln rounding at the k-th boundary. Weights are
    a deterministic 1..7 bucket of doc_id; priority kept in the output
    so the hash match certifies the full ordering, not just
    membership."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 7 + 1).cast("long").alias("wt")
    )
    return flt.weighted_sample_k(
        docs, "doc_id", "wt", k=100, seed=42, keep_priority=True
    )


SQL_FILT_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id, CAST(doc_id % 7 + 1 AS BIGINT) AS wt FROM documents
),
pri AS (
  SELECT doc_id, wt,
         MAX(CAST(concat('0x', substr(md5(concat('42:', CAST(r AS VARCHAR), ':', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)) AS priority
  FROM (SELECT doc_id, wt, unnest(range(wt)) AS r FROM w) t
  GROUP BY doc_id, wt
)
SELECT doc_id, wt, priority FROM pri
ORDER BY priority DESC, doc_id
LIMIT 100
"""
