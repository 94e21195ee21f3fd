"""Physical-plan introspection: the assertions that keep operators honest
at scale (shuffle counts, pushdown, broadcast, codegen coverage).

These read the *executed* plan string — the same thing a human checks with
``df.explain("formatted")`` — so tests can pin plan shape, not just
results: "would this survive a 100× scale-up" becomes a unit test.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (post-AQE wrapper, pre-execution)."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges. Every one is a full network pass over
    the data — the first number to check on any new operator."""
    return executed_plan(df).count("Exchange hashpartitioning") + executed_plan(
        df
    ).count("Exchange rangepartitioning")


def has_broadcast_join(df: DataFrame) -> bool:
    """True when the plan contains a broadcast join (small-side dimension
    joins must never shuffle the big side)."""
    p = executed_plan(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into the parquet scan (PushedFilters: [...])."""
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))
    out: list[str] = []
    for grp in m:
        out += [s.strip() for s in grp.split(",") if s.strip()]
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Column names the scan actually reads (ReadSchema) — catches plans
    that read all columns for a 2-column projection."""
    m = re.findall(r"ReadSchema: struct<([^>]*)>", executed_plan(df))
    cols: list[str] = []
    for grp in m:
        cols += [c.split(":")[0].strip() for c in grp.split(",") if c.strip()]
    return cols


def has_cartesian(df: DataFrame) -> bool:
    """True when the plan contains an all-pairs product (CartesianProduct
    or a non-equi BroadcastNestedLoopJoin). Candidate-generation operators
    (LSH, inverted-index blocking) must NEVER trip this — all-pairs is
    the thing the bucketing exists to avoid."""
    p = executed_plan(df)
    return "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p


def python_eval_nodes(df: DataFrame) -> int:
    """Count of Python-evaluation operators (ArrowEvalPython /
    BatchEvalPython / FlatMapGroupsInPandas) in the plan — each one is a
    JVM→Python boundary; hot paths should have zero. (Whole-stage codegen
    markers are NOT inspectable under AQE in Spark 4 — stages compile at
    materialization — so the inverse check is the reliable one: count what
    escapes codegen.)"""
    p = executed_plan(df)
    return sum(
        p.count(tag)
        for tag in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                    "MapInPandas")
    )
