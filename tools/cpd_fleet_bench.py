"""Fleet-scale CPD benchmark: the reference's production workload shape —
8.83M rows, 96 device-date partitions, ~2 Hz, frequent load-weight level
shifts — generated in Spark and run through the full CPD stage
(5 s downsample → per-partition PELT).

Reference anchors (BASELINE.md): full 96-partition CPD ≈ 2 min wall on
90 processes; one partition = 89,677 rows → 8,981 buckets → 666 change
points in 9.87 s.

Usage: python tools/cpd_fleet_bench.py [n_partitions] [rows_per_partition]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from datamine_v2_0_spark.pipeline.cpd import cpd_pipeline
from datamine_v2_0_spark.session import get_spark


def main() -> None:
    n_parts = int(sys.argv[1]) if len(sys.argv) > 1 else 96
    rows_pp = int(sys.argv[2]) if len(sys.argv) > 2 else 92_000
    spark = get_spark("cpd_fleet_bench")
    spark.range(1000).count()  # warm

    n = n_parts * rows_pp
    # deterministic synthetic fleet: one level shift every ~135 raw rows
    # (≈ the reference's 666 cps per 90k-row partition), noise σ=300
    df = (
        spark.range(n)
        .withColumn("pid", F.col("id") % n_parts)
        .withColumn("device_date", F.concat(F.lit("truck-"), F.col("pid")))
        .withColumn("seq", F.expr(f"id div {n_parts}"))
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.lit(1753833600000000) + (F.col("seq") * 500_000)
            ),
        )
        .withColumn("seg", F.expr("seq div 135"))
        .withColumn(
            "level", F.pmod(F.xxhash64(F.col("seg"), F.col("pid")), F.lit(60000))
        )
        .withColumn(
            "load_weight",
            F.col("level").cast("double") + F.sin(F.col("id")) * 300.0,
        )
        .select("device_date", "ts", "load_weight", F.col("id").alias("hash_id"))
    )

    t0 = time.time()
    out = cpd_pipeline(
        df,
        "device_date",
        "ts",
        ["load_weight"],
        "hash_id",
        duration="5 seconds",
        penalty=2e7,     # raw-scale l2: isolates the programmed level shifts
        min_size=10,
    )
    n_candidates = out.count()
    elapsed = time.time() - t0

    print(
        json.dumps(
            {
                "metric": "cpd_fleet_seconds",
                "value": round(elapsed, 2),
                "unit": "sec",
                "rows": n,
                "partitions": n_parts,
                "candidates": n_candidates,
                "cand_per_partition": round(n_candidates / n_parts, 1),
                "reference_anchor_sec": 120,
            }
        )
    )


if __name__ == "__main__":
    main()
