"""Focused per-query bench for optimization work: time a subset of
queries with the same methodology as bench.py (noop sink, min of N
passes) without paying for the full headline set.

Usage: python tools/qbench.py [-n PASSES] query [query ...]

Prints one JSON line {"queries": {name: best_sec}, "passes": N,
"calib_sec": s}. Not a driver artifact — bench.py stays the contract.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402

from datamine_v2_0_spark.contract import QUERIES  # noqa: E402
from datamine_v2_0_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n_passes = 3
    if args and args[0] == "-n":
        n_passes = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qbench")
    spark.range(1000).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(64).select(_warm(col("id"))).count()
    t0 = time.time()
    spark.range(200_000_000).selectExpr(
        "sum(pmod(xxhash64(id), 1000)) AS s"
    ).write.format("noop").mode("overwrite").save()
    calib = round(time.time() - t0, 3)

    passes: list[dict[str, float]] = []
    for _ in range(n_passes):
        times: dict[str, float] = {}
        for name in names:
            fn, _sql = QUERIES[name]
            spark.sparkContext.setJobDescription(f"qbench:{name}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
        passes.append(times)
    best = {n: min(p[n] for p in passes) for n in names}
    print(json.dumps({
        "queries": best,
        "total": round(sum(best.values()), 3),
        "passes": n_passes,
        "calib_sec": calib,
        "pass_totals": [round(sum(p.values()), 3) for p in passes],
    }))


if __name__ == "__main__":
    main()
