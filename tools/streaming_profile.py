"""One job-profile reading per streaming operator at sf0.1.

Runs each of the 7 streaming ops over the events table (normalized via
the contract loader, staged once to /tmp as the file-stream source) with
an availableNow trigger, and records per-op:
  - batch duration / input rows / rows-per-second from lastProgress
  - state-store metrics (rows total/updated, memory, commit ms)
  - the streaming physical plan's Python-boundary nodes: the two
    applyInPandasWithState ops must show FlatMapGroupsInPandasWithState
    and NOTHING may show BatchEvalPython (row-at-a-time Python)

Appends one JSON line to STREAMING_PROFILE_r14.json (env-overridable).
Dev/profiling tool — not a driver artifact, not on any query path.

Usage: python tools/streaming_profile.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

OUT = os.environ.get(
    "STREAMING_PROFILE_OUT", os.path.join(REPO, "STREAMING_PROFILE_r14.json")
)


def _main_batch(q):
    """The batch that actually processed rows — availableNow runs a final
    zero-row watermark-commit batch, so lastProgress alone reads empty."""
    progs = [p for p in (q.recentProgress or []) if p]
    if not progs:
        return q.lastProgress or {}
    return max(progs, key=lambda p: p.get("numInputRows") or 0)


def profile_query(q, label, results):
    q.awaitTermination(600)
    prog = _main_batch(q)
    plan = ""
    try:
        plan = q._jsq.explainInternal(False)
    except Exception:
        pass
    q.stop()
    ops = []
    for so in prog.get("stateOperators", []) or []:
        ops.append({
            "operator": so.get("operatorName"),
            "rows_total": so.get("numRowsTotal"),
            "rows_updated": so.get("numRowsUpdated"),
            "memory_bytes": so.get("memoryUsedBytes"),
            "commit_ms": so.get("commitTimeMs"),
        })
    results[label] = {
        "batch_id": prog.get("batchId"),
        "input_rows": prog.get("numInputRows"),
        "batch_duration_ms": (prog.get("durationMs") or {}).get("triggerExecution"),
        "state_operators": ops,
        "has_batch_eval_python": "BatchEvalPython" in plan,
        "has_arrow_eval_python": "ArrowEvalPython" in plan,
        "has_flatmap_pandas_state": "FlatMapGroupsInPandasWithState" in plan,
    }
    print(label, json.dumps(results[label]), flush=True)


def main() -> None:
    from datamine_v2_0_spark.queries.base import _t
    from datamine_v2_0_spark.session import get_spark
    from datamine_v2_0_spark.streaming import ops as so

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("streaming-profile")
    work = tempfile.mkdtemp(prefix="stream_prof_")
    src_path = f"{work}/events"
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # 8 files so availableNow still runs as ONE batch (no maxFilesPerTrigger)
    # but with parallel scan tasks, matching a real multi-file landing dir
    ev.repartition(8).write.mode("overwrite").parquet(src_path)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

    def stream():
        return spark.readStream.schema(schema).parquet(src_path)

    def start_noop(df, name):
        return (
            df.writeStream.format("noop")
            .queryName(name)
            .option("checkpointLocation", f"{work}/ckpt_{name}")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    def start_append(df, name):
        return (
            df.writeStream.format("noop")
            .queryName(name)
            .option("checkpointLocation", f"{work}/ckpt_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    results: dict[str, dict] = {}
    aggs = [F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_v")]

    profile_query(
        start_noop(so.streaming_tumbling_agg(
            stream(), "ts", "1 hour", aggs, extra_keys=["event_type"]
        ), "tumbling"),
        "streaming_tumbling_agg", results,
    )
    profile_query(
        start_noop(so.streaming_hopping_agg(
            stream(), "ts", "1 hour", "30 minutes", aggs,
            extra_keys=["event_type"],
        ), "hopping"),
        "streaming_hopping_agg", results,
    )
    profile_query(
        start_append(so.streaming_dedup(
            stream(), ["user_id", "event_id"], "ts"
        ), "dedup"),
        "streaming_dedup", results,
    )
    # session windows reject update mode; append emits gap-closed sessions
    profile_query(
        start_append(so.streaming_session_windows(
            stream(), "ts", ["user_id"], "30 minutes", aggs
        ), "sessions"),
        "streaming_session_windows", results,
    )
    profile_query(
        start_append(so.streaming_state_changes(
            stream(), ["user_id"], "ts", "event_type"
        ), "state_changes"),
        "streaming_state_changes", results,
    )
    profile_query(
        start_append(so.streaming_ewma(
            stream(), ["user_id"], "ts", "value", 0.3
        ), "ewma"),
        "streaming_ewma", results,
    )

    target = f"{work}/upsert_target"
    t0 = time.time()
    q = so.foreach_batch_upsert(
        stream(), target, ["event_id"], "ts", f"{work}/ckpt_upsert"
    )
    q.awaitTermination(600)
    prog = q.lastProgress or {}
    q.stop()
    n_target = spark.read.parquet(target).count()
    results["foreach_batch_upsert"] = {
        "batch_id": prog.get("batchId"),
        "input_rows": prog.get("numInputRows"),
        "batch_duration_ms": (prog.get("durationMs") or {}).get("triggerExecution"),
        "wall_sec": round(time.time() - t0, 2),
        "target_rows": n_target,
        "state_operators": [],
    }
    print("foreach_batch_upsert", json.dumps(results["foreach_batch_upsert"]),
          flush=True)

    row = {"metric": "streaming_profile", "sf_dir": sf_dir, "results": results}
    with open(OUT, "a") as f:
        f.write(json.dumps(row) + "\n")
    print(json.dumps(row), flush=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
