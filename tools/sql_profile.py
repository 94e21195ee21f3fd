"""SQL-tab node metrics for one query via the Spark UI REST API.

Usage: python tools/sql_profile.py <query> [n_passes]

Runs the named contract query against $SPARK_GRAFT_SF_DIR with the UI
enabled and prints, for the LAST pass's SQL executions, every plan node
with its key metrics (rows, data size, shuffle bytes/records) — the
guide §7.1 SQL-tab reading as text. Bytes metrics are load-independent,
so this is the evidence channel for exchange-narrowing work even on a
noisy host. Not a driver artifact; bench.py stays the timing contract.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datamine_v2_0_spark.contract import QUERIES  # noqa: E402
from datamine_v2_0_spark.session import get_spark  # noqa: E402

KEEP = (
    "number of output rows",
    "data size",
    "shuffle bytes written",
    "shuffle records written",
    "records read",
    "local bytes read",
    "remote bytes read",
    "number of partitions",
    "partition data size",
    "time in aggregation build",
    "task commit time",
    "duration",
)


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: sql_profile.py <query> [n_passes]")
    name = sys.argv[1]
    n_passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sql_profile", extra_conf={"spark.ui.enabled": "true"})
    try:
        spark.range(1000).count()
        fn, _sql = QUERIES[name]
        sc = spark.sparkContext
        ui = sc.uiWebUrl
        app_id = sc.applicationId

        first_exec = 0
        for p in range(n_passes):
            execs = _get(
                f"{ui}/api/v1/applications/{app_id}/sql?length=10000"
            )
            first_exec = 1 + max((e["id"] for e in execs), default=-1)
            sc.setJobDescription(f"{name} pass {p}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            print(f"pass {p}: {time.time() - t0:.3f}s", file=sys.stderr)
            sc.setJobDescription(None)

        time.sleep(2.0)  # let the UI store finalize node metrics
        execs = [
            e
            for e in _get(
                f"{ui}/api/v1/applications/{app_id}/sql"
                "?details=true&planDescription=false&length=10000"
            )
            if e["id"] >= first_exec
        ]
        for e in sorted(execs, key=lambda x: x["id"]):
            print(f"== execution {e['id']} ({e.get('duration', '?')} ms) "
                  f"{e.get('description', '')[:80]}")
            for n in e.get("nodes", []):
                metrics = {
                    m["name"]: m["value"]
                    for m in n.get("metrics", [])
                    if any(k in m["name"] for k in KEEP)
                }
                if not metrics:
                    continue
                mtxt = "  ".join(f"{k}={v}" for k, v in sorted(metrics.items()))
                print(f"  node {n['nodeId']:3d} {n['nodeName']:<38s} {mtxt}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
