"""Build an N-fold scaled replica of a testdata SF directory in /tmp:
each fact table is the union of N copies with all id/foreign-key
columns offset per copy (so keys stay consistent and unique), dims
(region/nation) are copied once. Text/values repeat verbatim — a
corpus with real duplicate content, which works the dedup family
HARDER than fresh data would (every doc gains N-1 identical twins).

Usage: python tools/make_scaled.py [src_sf_dir] [N] [out_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OFFSET = 1_000_000_000
# per-table columns that carry entity identity and must shift per copy
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    out = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/scaled_{n}x"

    from pyspark.sql import functions as F

    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("make_scaled")
    for t in DIMS:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        copies = []
        for k in range(n):
            c = df
            for col in keys:
                c = c.withColumn(col, F.col(col) + F.lit(k * OFFSET))
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        u.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"{t}: x{n}", flush=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
