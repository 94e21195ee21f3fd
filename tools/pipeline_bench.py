"""End-to-end pipeline benchmark at the reference's production scale:
8.83M raw telemetry rows / 96 device-date partitions through

  silver transform (hash id, enums, position parse, JSON, bools)
  → feature stack (zone join + full window-function suite + one-hot)
  → partitioned parquet export
  plus the CPD stage (5 s downsample → per-partition PELT) off silver.

Reference anchors (BASELINE.md): full 6-step pipeline "< 2 h" for the
same 8.8M rows on 100 cores; transform 25k+ rows/s (200k+ w/ 32
workers); features 15k+ rows/s per worker; CPD ~2 min; export 185.8 s.

Usage: python tools/pipeline_bench.py [n_partitions] [rows_per_partition]
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

from datamine_v2_0_spark.pipeline.cpd import cpd_pipeline
from datamine_v2_0_spark.pipeline.features import build_features
from datamine_v2_0_spark.pipeline.silver import silver_transform
from datamine_v2_0_spark.session import get_spark


def raw_frame(spark, n_parts: int, rows_pp: int):
    """11-column raw-CSV-shaped telemetry (all strings, like the bronze
    layer): one range partition per device so the bench isolates operator
    cost, not input shuffle."""
    n = n_parts * rows_pp
    df = (
        spark.range(0, n, 1, n_parts)
        .withColumn("pid", F.expr(f"id div {rows_pp}"))
        .withColumn("seq", F.col("id") % rows_pp)
    )
    h = lambda k: F.xxhash64(F.col("id"), F.lit(k))
    frac = lambda k: F.pmod(h(k), F.lit(100000)) / 100000.0
    ts = F.timestamp_micros(F.lit(1753833600000000) + F.col("seq") * 500_000)
    # load level shifts every ~135 rows (the reference's CPD density)
    level = F.pmod(F.xxhash64(F.expr("seq div 135"), F.col("pid")), F.lit(60000))
    state = F.element_at(
        F.array(
            F.lit("idle"), F.lit("loadToDump"), F.lit("dumping"),
            F.lit("TRUCK_JUNK_STATE"), F.lit(None).cast("string"),
        ),
        (F.pmod(h(1), F.lit(5)) + 1).cast("int"),
    )
    sw = F.element_at(
        F.array(F.lit("start"), F.lit("stop"), F.lit("fault"), F.lit("dump")),
        (F.pmod(h(2), F.lit(4)) + 1).cast("int"),
    )
    prndl = F.element_at(
        F.array(F.lit("park"), F.lit("drive"), F.lit("reverse"), F.lit("n")),
        (F.pmod(h(3), F.lit(4)) + 1).cast("int"),
    )
    # positions inside the zone bounding box so the spatial join does
    # real classification work
    lat = F.lit(33.2404) + frac(4) * 0.036
    lon = F.lit(-97.8407) + frac(5) * 0.0144
    pos = F.concat(
        F.lit("{"), F.format_number(lat, 7), F.lit(","),
        F.format_number(lon, 7), F.lit(","), F.format_number(frac(6) * 300, 2),
        F.lit("}"),
    )
    return df.select(
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("timestamp"),
        F.concat(F.lit("truck-775g-"), F.col("pid")).alias("device_id"),
        F.when(F.pmod(h(7), F.lit(2)) == 0, F.lit("t")).otherwise(F.lit("f")).alias(
            "system_engaged"
        ),
        F.when(F.pmod(h(8), F.lit(2)) == 0, F.lit("true")).otherwise(
            F.lit("false")
        ).alias("parking_brake_applied"),
        pos.alias("current_position"),
        (frac(9) * 55).cast("string").alias("current_speed"),
        (level + frac(10) * 600 - 300).cast("string").alias("load_weight"),
        state.alias("state"),
        sw.alias("software_state"),
        prndl.alias("prndl"),
        F.concat(F.lit('{"fw":'), F.pmod(h(11), F.lit(9)), F.lit("}")).alias(
            "extras"
        ),
    )


def main() -> None:
    n_parts = int(sys.argv[1]) if len(sys.argv) > 1 else 96
    rows_pp = int(sys.argv[2]) if len(sys.argv) > 2 else 92_000
    spark = get_spark("pipeline_bench")
    spark.range(1000).count()  # warm

    out_dir = tempfile.mkdtemp(prefix="pipeline_bench_")
    try:
        # materialize the bronze layer UN-timed: the reference's timed
        # stages read from an existing DB/CSV, so the timed window here
        # starts at the parquet scan, not at synthetic-data generation
        raw_frame(spark, n_parts, rows_pp).write.mode("overwrite").parquet(
            f"{out_dir}/bronze"
        )
        raw = spark.read.parquet(f"{out_dir}/bronze")

        # --- calibration probes (untimed w.r.t. the pipeline window) ---
        # This bench is parquet-write-bound; observed round-over-round
        # swings of 4-5x on identical code trace to ambient host I/O, so
        # absolute seconds are meaningless without a same-run yardstick.
        # CPU probe: the identical fixed workload bench.py times as
        # calib_sec. Disk probe: a fixed 32-part parquet write to the
        # SAME filesystem the timed stages export to.
        t = time.time()
        spark.range(200_000_000).selectExpr(
            "sum(pmod(xxhash64(id), 1000)) AS s"
        ).write.format("noop").mode("overwrite").save()
        calib_cpu = round(time.time() - t, 3)
        t = time.time()
        (
            spark.range(0, 40_000_000, 1, 32)
            .selectExpr("id", "xxhash64(id) AS h", "id % 997 AS v")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/_diskprobe")
        )
        calib_disk = round(time.time() - t, 3)
        # Python-worker probe: a fixed applyInPandas workload (Arrow
        # transfer + numpy loop over 96 groups) timed the same way as
        # the CPD stage, so cpd_sec has a same-run yardstick too — the
        # round-7 verdict flagged a 5x probe-normalized CPD swing that
        # the CPU/disk probes could not adjudicate (the CPD stage is
        # bound by Python workers, not the JVM or the disk).
        import numpy as _np
        import pandas as _pd

        def _py_probe(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
            v = pdf["v"].to_numpy(dtype=float)
            acc = 0.0
            for _ in range(40):  # deliberately loop-bound, PELT-like
                acc += float(_np.abs(_np.cumsum(v) - acc).sum()) % 1e9
            return _pd.DataFrame({"g": [int(pdf["g"].iloc[0])], "acc": [acc]})

        t = time.time()
        (
            spark.range(0, 2_400_000, 1, 32)
            .selectExpr("id % 96 AS g", "CAST(id % 9973 AS DOUBLE) AS v")
            .groupBy("g")
            .applyInPandas(_py_probe, "g long, acc double")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        calib_py = round(time.time() - t, 3)

        # LOAD PROTOCOL (round 8, per the round-7 verdict): min-of-N
        # passes per stage (default 3) with all pass times disclosed —
        # single-shot stage timings on this shared hypervisor swing
        # several-fold on identical code.
        n_passes = int(os.environ.get("SPARK_GRAFT_PIPELINE_PASSES", "3"))
        feat_passes: list[float] = []
        cpd_passes: list[float] = []
        n_cand = None
        for _ in range(n_passes):
            t0 = time.time()
            silver = silver_transform(
                raw, ingested_at=F.to_timestamp(F.lit("2025-09-04 00:00:00"))
            )
            features = build_features(silver)
            (
                features.drop("current_position")
                .write.mode("overwrite")
                .partitionBy("device_date")
                .parquet(f"{out_dir}/features")
            )
            feat_passes.append(round(time.time() - t0, 2))

            t1 = time.time()
            cand = cpd_pipeline(
                spark.read.parquet(f"{out_dir}/features"),
                "device_date",
                "timestamp",
                ["load_weight"],
                "raw_event_hash_id",
                duration="5 seconds",
                penalty=2e7,
                min_size=10,
            )
            this_cand = cand.count()
            cpd_passes.append(round(time.time() - t1, 2))
            assert n_cand is None or n_cand == this_cand, "unstable candidates"
            n_cand = this_cand

        t_features = min(feat_passes)
        t_cpd = min(cpd_passes)
        n_rows = spark.read.parquet(f"{out_dir}/features").count()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    total = t_features + t_cpd
    print(
        json.dumps(
            {
                "metric": "pipeline_e2e_seconds",
                "value": round(total, 2),
                "unit": "sec",
                "rows": n_rows,
                "partitions": n_parts,
                "silver_features_export_sec": round(t_features, 2),
                "cpd_sec": round(t_cpd, 2),
                "candidates": n_cand,
                "rows_per_sec": int(n_rows / total),
                "calib_cpu_sec": calib_cpu,
                "calib_disk_sec": calib_disk,
                "calib_py_sec": calib_py,
                "timing": f"min of {n_passes} passes per stage",
                "feat_passes": feat_passes,
                "cpd_passes": cpd_passes,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                # host-speed-normalized ratios: each stage expressed in
                # units of the same-run probe that matches its bottleneck
                # (export -> disk, CPD -> Python workers) — these are
                # what is comparable round-over-round, not seconds
                "total_per_cpu_probe": round(total / calib_cpu, 2),
                "export_stage_per_disk_probe": round(
                    t_features / calib_disk, 2
                ),
                "cpd_stage_per_py_probe": round(t_cpd / calib_py, 2),
                "reference_anchor": "silver 44-353s + features ~18-588s + cpd ~120s + export 185.8s; <2h total",
            }
        )
    )


if __name__ == "__main__":
    main()
