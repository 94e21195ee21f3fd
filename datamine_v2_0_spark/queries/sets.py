"""Sort/limit and set-operation contract queries + oracles.

Split out of the monolithic contract.py (r3 verdict: no file > ~800
lines); registry order lives in contract.py and is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import sets as st
from datamine_v2_0_spark.queries.base import _t


def q_sort_topk(spark, sf_dir):
    return st.topk(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        20,
    )

SQL_SORT_TOPK = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""

def q_set_union(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    open_n = o.filter(F.col("o_orderstatus") == "O").agg(
        F.lit("open").alias("bucket"), F.count(F.lit(1)).alias("n")
    )
    done_n = o.filter(F.col("o_orderstatus") == "F").agg(
        F.lit("done").alias("bucket"), F.count(F.lit(1)).alias("n")
    )
    return st.union_all([open_n, done_n])

SQL_SET_UNION = """
SELECT 'open' AS bucket, COUNT(*) AS n FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT 'done' AS bucket, COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F'
"""

def q_set_intersect(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return st.intersect(buyers, erring)

SQL_SET_INTERSECT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
"""

def q_set_except(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    all_users = ev.select("user_id").distinct()
    erring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return st.except_all(all_users, erring)

SQL_SET_EXCEPT = """
SELECT DISTINCT user_id FROM events
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
"""
