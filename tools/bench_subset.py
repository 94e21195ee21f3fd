"""Min-of-N bench of a named query subset at an arbitrary sf_dir.

The headline bench (bench.py) runs the frozen 30-query set; scale-decade
probes (4x/16x/64x replicas of sf0.1) only need the handful of queries
whose absolute cost makes a super-linear trend diagnosable, and at 64x a
5-pass full set would burn an hour measuring queries that finish in
half a second. Same timing discipline as bench.py: noop-sink
materialization, min over passes, calibration workload + loadavg
disclosed.

Usage:
  python tools/bench_subset.py SF_DIR out.json q1 q2 ... [--passes 2]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    argv = list(sys.argv[1:])
    passes = 2
    if "--passes" in argv:
        i = argv.index("--passes")
        passes = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir, out_path, names = argv[0], argv[1], argv[2:]

    from datamine_v2_0_spark.contract import QUERIES
    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("bench-subset")
    # JVM warm-up, then the SAME fixed calibration workload bench.py
    # times (hash-bound, overflow-free under ANSI) so calib_sec is
    # comparable across the two tools' outputs
    spark.range(10_000_000).selectExpr("sum(pmod(xxhash64(id), 1000))").collect()
    t0 = time.time()
    spark.range(200_000_000).selectExpr(
        "sum(pmod(xxhash64(id), 1000)) AS s"
    ).write.format("noop").mode("overwrite").save()
    calib = round(time.time() - t0, 3)
    load_start = round(os.getloadavg()[0], 2)

    all_passes: list[dict[str, float]] = []
    for _ in range(passes):
        times: dict[str, float] = {}
        for name in names:
            fn, _sql = QUERIES[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
            print(f"pass {len(all_passes)} {name}: {times[name]}", flush=True)
        all_passes.append(times)
    load_end = round(os.getloadavg()[0], 2)

    best = {n: min(p[n] for p in all_passes) for n in names}
    out = {
        "metric": "subset_query_total",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "sf_dir": sf_dir,
        "calib_sec": calib,
        "timing": f"min of {passes} passes per query",
        "loadavg_1m": {"start": load_start, "end": load_end},
        "pass_totals": [round(sum(p.values()), 3) for p in all_passes],
    }
    with open(out_path, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
