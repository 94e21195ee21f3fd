"""Shared helpers for the contract query modules: the adaptive table loader and fixtures every family uses.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import windows as win


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table; normalize the events timestamp if needed.

    Some driver generations store ``events.ts`` as parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects. Read it as
    a long (legacy conf) and truncate to microseconds with integer
    division (a double division would lose precision above 2^53 ns).
    Newer generations store plain TIMESTAMP(MICROS) — pass through.
    """
    # the driver supplies its own SparkSession; epoch-bucketing queries
    # (gapfill/hopping/cohort/range-bin) and NTZ->TIMESTAMP casts are only
    # oracle-parity-correct under UTC, so pin it here rather than trusting
    # the harness session's default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # session tz is pinned to UTC, so NTZ -> TIMESTAMP is lossless
            # and matches DuckDB's naive read of the same parquet
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

def _events_window():
    return win.ordered_window(["user_id"], ["ts", "event_id"])

# DuckDB rendering of pg_timestamptz_text (same trim rules)
_PG_TS_SQL = (
    r"regexp_replace(regexp_replace(strftime({c}, '%Y-%m-%d %H:%M:%S.%f'),"
    r" '(\.\d*?)0+$', '\1'), '\.$', '') || '+00'"
)
