"""Layout-determinism gate: every registry query must produce the SAME
result set under different physical layouts.

Why: the oracle hash-match certifies one execution. A query whose
output depends on partitioning/tie order (a rank missing its unique
tiebreak, a first()/any_value() leaking layout, monotonically_
increasing_id reaching the output) can hash-match once and silently
differ on the next cluster layout — the defect class a single
certification run structurally cannot catch.

Mechanism: run each query twice against the same data — pass A on the
session defaults (shuffle.partitions=32, AQE on), pass B with
spark.sql.shuffle.partitions=7 and AQE coalescing disabled — and
compare row count + order-insensitive value hash (the driver's own
comparison, reused from verify_local).

Usage: python tools/determinism_sweep.py [sf_dir] [query_name ...]
Exits nonzero listing every query whose two runs differ.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.verify_local import value_hash  # noqa: E402


def _run(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    rows = df.collect()
    return len(rows), value_hash(rows, df.columns)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("determinism_sweep")
    qs = e.queries()
    failed = []
    n_ok = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # memoized frames would make the second layout pass hash the
        # first pass's cached result — clear between passes so each
        # layout genuinely recomputes (dedup_canonical's groups memo)
        from datamine_v2_0_spark.queries.dedup import clear_groups_cache

        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
            clear_groups_cache()
            n_a, h_a = _run(spark, fn, sf_dir)
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
            clear_groups_cache()
            n_b, h_b = _run(spark, fn, sf_dir)
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"{type(ex).__name__}: {str(ex)[:120]}"))
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        if n_a != n_b or h_a != h_b:
            failed.append(
                (name, f"layout-dependent: rows {n_a}/{n_b} hash "
                       f"{h_a[:12]}/{h_b[:12]}")
            )
        else:
            n_ok += 1
            print(f"OK    {name} ({time.time()-t0:.1f}s)", flush=True)
    for name, err in failed:
        print(f"FAIL  {name}: {err}")
    print(f"{n_ok} deterministic, {len(failed)} layout-dependent/failed")
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
