"""Export-pipeline benchmark: the reference's measured parquet-export
anchor — 8,831,277 telemetry rows, 33 columns, 96 device-date partitions
→ snappy parquet — done in 185.8 s by the reference's COPY→pandas→Arrow
chain (BASELINE.md; reference `STEP 5 - CPD/_archive/
export_report_20250904_225423.json`).

Here the same shape is a single Spark job: synthesize the 33-column
telemetry frame (the "extract"), then one partitioned write. No
CSV intermediate, no driver-side pandas hop — the rows never leave the
executors.

Usage: python tools/export_bench.py [n_partitions] [rows_per_partition]
Prints one JSON line.
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

from pyspark.sql import functions as F

from datamine_v2_0_spark.session import get_spark


def telemetry_frame(spark, n_parts: int, rows_pp: int):
    """Deterministic 33-column telemetry-shaped frame (reference export
    schema width: hash id, device/date keys, position, speeds, weights,
    enum states, booleans, JSON payload, misc numerics)."""
    n = n_parts * rows_pp
    # one range partition == one device_date: ids are contiguous per
    # device, so the partitionBy write needs NO shuffle — each task
    # streams straight into its own partition directory
    df = (
        spark.range(0, n, 1, n_parts)
        .withColumn("pid", F.expr(f"id div {rows_pp}"))
        .withColumn("seq", F.col("id") % rows_pp)
        .withColumn("device_date", F.concat(F.lit("truck-"), F.col("pid")))
        .withColumn(
            "ts",
            F.timestamp_micros(F.lit(1753833600000000) + F.col("seq") * 500_000),
        )
    )
    h = lambda k: F.xxhash64(F.col("id"), F.lit(k))
    dbl = lambda k, scale: (F.pmod(h(k), F.lit(100000)) / 100000.0) * scale
    cols = [
        F.sha2(F.concat_ws("|", "device_date", F.col("id")), 256).alias("hash_id"),
        F.col("device_date"),
        F.col("ts"),
        (F.lit(40.0) + dbl(1, 0.5)).alias("latitude"),
        (F.lit(-105.0) + dbl(2, 0.5)).alias("longitude"),
        dbl(3, 4000.0).alias("altitude"),
        dbl(4, 55.0).alias("speed"),
        dbl(5, 360.0).alias("heading"),
        (dbl(6, 60000.0)).alias("load_weight"),
        dbl(7, 8000.0).alias("engine_rpm"),
        dbl(8, 100.0).alias("fuel_level"),
        dbl(9, 120.0).alias("engine_temp"),
        dbl(10, 100.0).alias("oil_pressure"),
        dbl(11, 14.5).alias("battery_voltage"),
        (F.pmod(h(12), F.lit(5))).cast("int").alias("system_state_raw"),
        (F.pmod(h(13), F.lit(3))).cast("int").alias("gear_raw"),
        (F.pmod(h(14), F.lit(2)) == 0).alias("system_engaged"),
        (F.pmod(h(15), F.lit(2)) == 0).alias("parking_brake_applied"),
        (F.pmod(h(16), F.lit(2)) == 0).alias("is_moving"),
        F.concat(F.lit('{"fw":"'), F.pmod(h(17), F.lit(9)), F.lit('"}')).alias(
            "payload_json"
        ),
        dbl(18, 1.0).alias("accel_x"),
        dbl(19, 1.0).alias("accel_y"),
        dbl(20, 1.0).alias("accel_z"),
        dbl(21, 100.0).alias("brake_pressure"),
        dbl(22, 100.0).alias("throttle_pct"),
        (F.pmod(h(23), F.lit(1000000))).alias("odometer_m"),
        (F.pmod(h(24), F.lit(3600))).alias("idle_seconds"),
        (F.pmod(h(25), F.lit(100))).cast("int").alias("satellite_count"),
        dbl(26, 10.0).alias("hdop"),
        (F.pmod(h(27), F.lit(7))).cast("int").alias("zone_id_raw"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("obs_date"),
        (F.col("seq") % 86400).alias("second_of_day"),
        (F.pmod(h(28), F.lit(12))).cast("int").alias("fleet_id"),
    ]
    return df.select(*cols)


def main() -> None:
    n_parts = int(sys.argv[1]) if len(sys.argv) > 1 else 96
    rows_pp = int(sys.argv[2]) if len(sys.argv) > 2 else 92_000
    spark = get_spark("export_bench")
    spark.range(1000).count()  # warm

    out_dir = tempfile.mkdtemp(prefix="export_bench_")
    try:
        t0 = time.time()
        df = telemetry_frame(spark, n_parts, rows_pp)
        (
            df.write.mode("overwrite")
            .partitionBy("device_date")
            .option("compression", "snappy")
            .parquet(f"{out_dir}/telemetry")
        )
        elapsed = time.time() - t0
        back = spark.read.parquet(f"{out_dir}/telemetry")
        n_rows = back.count()
        n_cols = len(back.columns)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "export_pipeline_seconds",
                "value": round(elapsed, 2),
                "unit": "sec",
                "rows": n_rows,
                "columns": n_cols,
                "partitions": n_parts,
                "rows_per_sec": int(n_rows / elapsed),
                "reference_anchor_sec": 185.8,
            }
        )
    )


if __name__ == "__main__":
    main()
