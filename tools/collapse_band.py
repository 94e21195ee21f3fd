"""Duplication stress band for the duplicate-collapse plan switch.

Builds document-corpus replicas across a band of duplication SHAPES and
times every collapse-capable operator on BOTH physical plans (direct vs
representative-collapsed), with a distributed parity hash proving the
two plans agree on every band. The measured crossover calibrates the
switch constants (operators/dedup.POSTING_COLLAPSE_BLOWUP and
BM25_COLLAPSE_BLOWUP for the posting-join family, PAIR_COLLAPSE_BETA
for the pair family's scale-aware hotspot break-even).

Two replica families, because the two switch statistics they separate
are exactly the ones the round-8 weak mark conflated:

  uniform u{d}  — union of d id-offset copies (fractional last copy),
                  docs-per-distinct ≈ d, blowup Σ|g|²/n ≈ d.
                  Ratio and blowup MOVE TOGETHER here.
  hot h{p}      — constant row count, p% of docs reassigned to one
                  viral text: ratio ≈ 1/(1-p) stays small while blowup
                  ≈ p²·n explodes. Ratio and blowup DIVERGE here —
                  the skewed-replica composition.

Per (band, operator): run duplicate_collapse='never' and '=always'
(min of --reps, first run discarded as warm-up for the band's scan),
record the auto probe's (blowup, trimmed, cmax) and which plan auto picks, and
compare the two plans' (row count, order-insensitive xxhash sum).

Usage: python tools/collapse_band.py [src_sf_dir] [--reps N] [--bands ...]
Appends one JSON line per (band, op) to COLLAPSE_BAND.jsonl.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

OUT = "/root/repo/COLLAPSE_BAND.jsonl"
BAND_DIR = "/tmp/dupband"
OFFSET = 1_000_000_000


def build_uniform(spark, src, d: float, path: str) -> None:
    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_full = int(d)
    frac = d - n_full
    copies = []
    for k in range(n_full):
        copies.append(docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * OFFSET)))
    if frac > 0:
        # deterministic fractional copy: lowest-residue slice
        copies.append(
            docs.filter(F.pmod(F.col("doc_id"), 100) < int(round(frac * 100)))
            .withColumn("doc_id", F.col("doc_id") + F.lit(n_full * OFFSET))
        )
    u = copies[0]
    for c in copies[1:]:
        u = u.unionByName(c)
    u.write.mode("overwrite").parquet(path)


def build_hot(spark, src, pct: int, path: str) -> None:
    docs = spark.read.parquet(f"{src}/documents.parquet")
    viral = docs.orderBy("doc_id").select("text").first()[0]
    (
        docs.withColumn(
            "text",
            F.when(F.pmod(F.col("doc_id"), 100) < pct, F.lit(viral)).otherwise(
                F.col("text")
            ),
        )
        .withColumn("n_chars", F.length("text"))
        .write.mode("overwrite")
        .parquet(path)
    )


def _ops():
    """(name, callable(docs, collapse_mode) -> DataFrame) with the exact
    parameters the contract queries use, so the band reads transfer."""
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.operators import retrieval as rt

    def minhash(docs, mode):
        return dd.minhash_near_dup_pairs(
            docs, "text", "doc_id", threshold=0.2, num_hashes=32, bands=8,
            duplicate_collapse=mode,
        )

    def jaccard(docs, mode):
        return dd.jaccard_pairs_inverted(
            docs, "text", "doc_id", threshold=0.2, duplicate_collapse=mode
        )

    def containment(docs, mode):
        return dd.containment_pairs_inverted(
            docs, "text", "doc_id", threshold=0.3, duplicate_collapse=mode
        )

    def bm25(docs, mode):
        probes = docs.filter(F.pmod(F.col("doc_id"), 100) == 0).filter(
            F.col("doc_id") < OFFSET  # probe set constant across bands
        ).select(F.col("doc_id").alias("qid"), F.col("text").alias("qtext"))
        return rt.bm25_topk(
            docs, probes, "text", "doc_id", "qtext", "qid", k=5,
            duplicate_collapse=mode,
        )

    def against(docs, mode):
        new = docs.filter(F.col("doc_id") % 2 == 0)
        ref = docs.filter(F.col("doc_id") % 2 == 1)
        return dd.dedup_against(
            new, ref, "text", "doc_id", method="near", threshold=0.2,
            num_hashes=32, bands=8, duplicate_collapse=mode,
        )

    return [
        ("dedup_minhash_lsh", minhash),
        ("dedup_jaccard_inverted", jaccard),
        ("dedup_containment", containment),
        ("text_bm25", bm25),
        ("dedup_against", against),
    ]


def fingerprint(df):
    """(rows, order-insensitive hash) computed distributed — no collect
    of potentially millions of pairs. Columns sorted by name; floats are
    identical doubles on both plans (same rounding in both), so the
    string cast is stable."""
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    # sum in decimal(38) space: ANSI mode (Spark 4 default) would raise
    # on a long-sum overflow across millions of hashed rows
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"] or 0), int(r["h"] or 0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("src", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--uniform", default="1.5,2,4,8")
    ap.add_argument("--hot", default="5,10,20,40")
    ap.add_argument("--ops", default="")
    ap.add_argument("--budget-sec", type=float, default=240.0,
                    help="skip remaining reps of a (band,op,plan) once "
                         "one run exceeds this")
    args = ap.parse_args()

    from datamine_v2_0_spark.operators.dedup import (
        _dup_stats,
        AGAINST_COLLAPSE_BETA, BM25_COLLAPSE_BLOWUP,
        CONTAINMENT_COLLAPSE_CMAX,
        PAIR_COLLAPSE_BETA, _pair_cmax_threshold,
        POSTING_COLLAPSE_BLOWUP, POSTING_COLLAPSE_CMAX,
    )
    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("collapse_band")
    spark.range(1000).count()

    bands: list[tuple[str, str]] = []
    for d in [float(x) for x in args.uniform.split(",") if x]:
        name = f"u{d:g}"
        path = f"{BAND_DIR}/{name}/documents.parquet"
        build_uniform(spark, args.src, d, path)
        bands.append((name, path))
    for p in [int(x) for x in args.hot.split(",") if x]:
        name = f"h{p}"
        path = f"{BAND_DIR}/{name}/documents.parquet"
        build_hot(spark, args.src, p, path)
        bands.append((name, path))

    ops = _ops()
    if args.ops:
        keep = set(args.ops.split(","))
        ops = [o for o in ops if o[0] in keep]

    pair_ops = {"dedup_minhash_lsh", "dedup_against"}
    results = []
    for band, path in bands:
        docs = spark.read.parquet(path)
        n, blowup, cmax = _dup_stats(docs, "text")
        trimmed = (blowup - cmax * cmax / n) if n else 0.0
        for op_name, op in ops:
            rec = {
                "band": band, "op": op_name, "n_docs": n,
                "blowup": round(blowup, 2),
                "trimmed": round(trimmed, 2),
                "cmax": cmax,
            }
            # mirror the REAL auto rules (_resolve_posting_collapse /
            # _resolve_pair_collapse / retrieval.bm25_topk)
            if op_name in pair_ops:
                beta = (
                    AGAINST_COLLAPSE_BETA
                    if op_name == "dedup_against"
                    else PAIR_COLLAPSE_BETA
                )
                fire = cmax >= _pair_cmax_threshold(
                    n, spark.sparkContext.defaultParallelism, beta
                )
            elif op_name == "text_bm25":
                probes = docs.filter(
                    F.pmod(F.col("doc_id"), 100) == 0
                ).filter(F.col("doc_id") < OFFSET)
                _, bq, _ = _dup_stats(probes, "text")
                fire = (
                    trimmed * bq >= BM25_COLLAPSE_BLOWUP
                    or cmax >= POSTING_COLLAPSE_CMAX
                )
                rec["blowup_q"] = round(bq, 2)
            else:
                ceiling = (
                    CONTAINMENT_COLLAPSE_CMAX
                    if op_name == "dedup_containment"
                    else POSTING_COLLAPSE_CMAX
                )
                fire = (
                    trimmed >= POSTING_COLLAPSE_BLOWUP or cmax >= ceiling
                )
            rec["auto"] = "always" if fire else "never"
            for mode in ("never", "always"):
                times = []
                fp = None
                for rep in range(args.reps + 1):  # +1 warm-up
                    t0 = time.time()
                    fp = fingerprint(op(docs, mode))
                    dt = time.time() - t0
                    if rep > 0:
                        times.append(dt)
                    if dt > args.budget_sec:
                        if not times:
                            times.append(dt)
                        break
                rec[f"t_{mode}"] = round(min(times), 3)
                rec[f"fp_{mode}"] = fp
            rec["parity"] = rec["fp_never"] == rec["fp_always"]
            rec["rows"] = rec["fp_never"][0]
            rec["winner"] = (
                "never" if rec["t_never"] <= rec["t_always"] else "always"
            )
            rec["auto_optimal"] = rec["auto"] == rec["winner"] or (
                abs(rec["t_never"] - rec["t_always"])
                <= 0.15 * max(rec["t_never"], rec["t_always"])
            )
            print(json.dumps(rec), flush=True)
            results.append(rec)

    with open(OUT, "a") as f:
        for r in results:
            f.write(json.dumps(r) + "\n")
    bad = [r for r in results if not r["parity"]]
    print(f"\n{len(results)} cells, parity failures: {len(bad)}")
    for r in bad:
        print("PARITY FAIL:", r["band"], r["op"], r["fp_never"], r["fp_always"])


if __name__ == "__main__":
    main()
