"""Planted-group band for the embedding near-dup collapse crossover.

Round-10 calibrated a single sqrt(beta*n/P) EMBED_COLLAPSE_BETA from
ONE (n=2000, P=32) band; round-11 verdict task 3 ordered a second n
point, which BROKE the single-beta form (brackets at n=500/2000/8000
pinch it out — see the EMBED_COLLAPSE_INTERCEPT block in
operators/dedup.py) and produced the affine replacement
g*^2 = intercept + beta*n/P. This tool is the (previously ad-hoc)
harness, now versioned: plant one g-strong
identical-vector group into an embeddings corpus, time
embedding_neardup_pairs on both physical plans with distributed
parity, and report each cell against the formula's predicted
crossover sqrt(beta*n/P).

Methodology identical to round 10: the g lowest vec_ids are overwritten
with the corpus's first vector (so the group is one exact-duplicate
embedding, the serial-hotspot composition), min-of-REPS timing per
(cell, plan) with the first run of each cell discarded as scan warm-up,
parity via an order-insensitive distributed hash of all output pairs.

Usage:
  python tools/embed_band.py [src_embeddings_parquet] [--cells 400,600,...]
                             [--reps 2] [--dim 64]
Appends one JSON line per cell to EMBED_BAND.jsonl.
"""

from __future__ import annotations

import argparse
import json
import time

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

OUT = "/root/repo/EMBED_BAND.jsonl"


def fingerprint(df):
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"] or 0), int(r["h"] or 0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "src", nargs="?", default="/root/testdata/sf0.1/embeddings.parquet"
    )
    ap.add_argument("--cells", default="400,600,800,1200,1600")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument(
        "--uniquify",
        action="store_true",
        help="deterministically perturb embedding[0] by 1e-4*(vec_id mod "
        "7919) BEFORE planting, so a make_scaled replica's 4x/16x vector "
        "copies become distinct: without this the background's own "
        "duplicate mass (trimmed blowup ~ replica factor) confounds the "
        "planted-hotspot crossover the beta formula prices",
    )
    args = ap.parse_args()

    from datamine_v2_0_spark.session import get_spark
    from datamine_v2_0_spark.operators import dedup as dd

    spark = get_spark("embed-band")
    base = spark.read.parquet(args.src)
    if args.uniquify:
        pert = 1e-4 * F.pmod(F.col("vec_id"), F.lit(7919)).cast("double")
        base = base.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x.cast("double") + pert).otherwise(
                    x.cast("double")
                ),
            ),
        )
    n = base.count()
    p = dd._plan_parallelism(spark)
    predicted = dd._pair_cmax_threshold(
        n, p, dd.EMBED_COLLAPSE_BETA, dd.EMBED_COLLAPSE_INTERCEPT
    )
    print(
        f"src={args.src} n={n} P={p} beta={dd.EMBED_COLLAPSE_BETA} "
        f"intercept={dd.EMBED_COLLAPSE_INTERCEPT} "
        f"predicted crossover g ~= {predicted:.0f}"
    )

    viral = base.orderBy("vec_id").select("embedding").first()[0]
    lit_vec = F.array(*[F.lit(float(x)) for x in viral])

    for g in [int(x) for x in args.cells.split(",") if x]:
        df = base.withColumn(
            "embedding",
            F.when(F.col("vec_id") < g, lit_vec).otherwise(F.col("embedding")),
        ).persist()
        df.count()  # materialize once so both plans read a warm cache
        times, fps = {}, {}
        for mode in ("never", "always"):
            best = None
            for rep in range(args.reps + 1):
                t0 = time.time()
                out = dd.embedding_neardup_pairs(
                    df, "embedding", "vec_id", dim=args.dim,
                    threshold=0.9, duplicate_collapse=mode,
                )
                fp = fingerprint(out)
                dt = time.time() - t0
                if rep == 0:
                    fps[mode] = fp
                    continue  # warm-up discarded
                assert fp == fps[mode], (mode, fp, fps[mode])
                best = dt if best is None else min(best, dt)
            times[mode] = round(best, 3)
        parity = fps["never"] == fps["always"]
        # what auto would pick at this cell
        stats = dd._dup_stats(df, "embedding")
        auto_collapse = dd._resolve_pair_collapse(
            df, "embedding", "auto", beta=dd.EMBED_COLLAPSE_BETA,
            stats=stats, intercept=dd.EMBED_COLLAPSE_INTERCEPT,
        )
        winner = "always" if times["always"] < times["never"] else "never"
        # rule stamp (round-11 verdict "What's wrong #2"): record WHICH
        # decision rule the auto column was computed under, so a later
        # re-derivation can tell live-rule evidence from pre-fix rows.
        # Historical rows predate this field; their rules are
        # reconstructed from predicted_crossover in
        # tools/embed_band_report.py (rows 0-23 sqrt-form beta 3841.6,
        # 24-27 affine without the P-clamp, 28-31 the shipped rule).
        rule = (
            f"affine(i={dd.EMBED_COLLAPSE_INTERCEPT},"
            f"b={dd.EMBED_COLLAPSE_BETA})"
            f"+clampP{dd.PAIR_CALIBRATION_P}"
        )
        row = {
            "src": args.src,
            "n": n,
            "parallelism": p,
            "g": g,
            "rule": rule,
            "uniquified": bool(args.uniquify),
            "predicted_crossover": round(predicted, 1),
            "t_never": times["never"],
            "t_always": times["always"],
            "winner": winner,
            "auto": "always" if auto_collapse else "never",
            "auto_optimal": (winner == "always") == auto_collapse,
            "parity": parity,
            "pairs": fps["never"][0],
        }
        print(json.dumps(row), flush=True)
        with open(OUT, "a") as f:
            f.write(json.dumps(row) + "\n")
        df.unpersist()


if __name__ == "__main__":
    main()
