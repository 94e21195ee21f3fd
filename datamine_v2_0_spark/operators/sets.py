"""Set + sort/limit operators (SURVEY.md §2.6 O1-O4, §2.7 U1-U3)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """U1/U2/U3: ``UNION ALL`` by column name (checkpoint nb cell 29)."""
    if not dfs:
        raise ValueError("union_all needs at least one DataFrame")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """O2: top-k — Spark plans TakeOrderedAndProject (no global sort
    materialization), safe at any scale for small k."""
    return df.orderBy(*order).limit(k)
