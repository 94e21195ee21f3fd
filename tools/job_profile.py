"""Per-job profile of one query via the Spark UI REST API.

Usage: python tools/job_profile.py <query> [n_passes]

Runs the named contract query against $SPARK_GRAFT_SF_DIR with the UI
enabled, then prints every job of the LAST pass (the steady-state one:
pass 1 carries codegen/worker-pool warmup) with duration, task count,
and stage-level input/shuffle bytes — the measurement loop of
spark_optimization_guide.md §1/§7.1 without leaving the terminal.
Not a driver artifact; bench.py stays the timing contract.
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


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def _parse_ts(ts: str):
    """REST timestamps look like 2026-08-18T04:40:55.123GMT; tolerate a
    missing zone suffix rather than crashing the whole profile."""
    from datetime import datetime

    for fmt in ("%Y-%m-%dT%H:%M:%S.%f%Z", "%Y-%m-%dT%H:%M:%S.%f"):
        try:
            return datetime.strptime(ts, fmt)
        except ValueError:
            continue
    raise ValueError(f"unrecognized REST timestamp: {ts!r}")


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in QUERIES:
        known = ", ".join(sorted(QUERIES)[:8])
        sys.exit(
            f"usage: python tools/job_profile.py <query> [n_passes]\n"
            f"known queries include: {known}, ..."
        )
    name = sys.argv[1]
    n_passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job_profile", extra_conf={"spark.ui.enabled": "true"})
    try:
        _profile(spark, name, n_passes, sf_dir)
    finally:
        spark.stop()


def _profile(spark, name: str, n_passes: int, sf_dir: str) -> None:
    spark.range(1000).count()
    fn, _sql = QUERIES[name]
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId

    first_job = 0
    for p in range(n_passes):
        jobs_before = _get(f"{ui}/api/v1/applications/{app_id}/jobs")
        first_job = 1 + max((j["jobId"] for j in jobs_before), default=-1)
        sc.setJobDescription(f"{name} pass {p}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        sc.setJobDescription(None)
        print(f"pass {p}: {wall:.3f}s", file=sys.stderr)

    jobs = [
        j
        for j in _get(f"{ui}/api/v1/applications/{app_id}/jobs")
        if j["jobId"] >= first_job
    ]
    jobs.sort(key=lambda j: j["jobId"])
    stages = {
        s["stageId"]: s
        for s in _get(f"{ui}/api/v1/applications/{app_id}/stages")
    }
    total = 0.0
    for j in jobs:
        dur = (
            _parse_ts(j["completionTime"]) - _parse_ts(j["submissionTime"])
        ).total_seconds()
        total += dur
        print(f"job {j['jobId']:4d} {dur:8.3f}s tasks={j['numCompletedTasks']:5d}")
        for sid in sorted(j["stageIds"]):
            s = stages.get(sid)
            if s is None or s.get("status") == "SKIPPED":
                continue
            print(
                f"  stage {sid:4d} {s['name'].splitlines()[0][:60]:60s}"
                f" tasks={s['numCompleteTasks']:5d}"
                f" in={s['inputBytes']:>11d}"
                f" sr={s['shuffleReadBytes']:>11d}"
                f" sw={s['shuffleWriteBytes']:>11d}"
                f" ms={s.get('executorRunTime', 0):>8d}"
            )
    print(f"last-pass job total {total:.3f}s over {len(jobs)} jobs")


if __name__ == "__main__":
    main()
