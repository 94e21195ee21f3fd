"""Operator-level executions at 6M docs — one decade above every prior
operator bench (the 64x replica topped out at 320k docs; round 12's
probe ran at 6M but only the PLANNING stage).

Corpus: a deterministic 6M-doc corpus built by :func:`build_corpus`
(Spark expressions only — no Python UDF, no RNG). Two shapes:
  - full (6M): 120k-doc viral group + 10k x 10 pockets + unique tail —
    used for the operators whose output stays corpus-sized (exact
    dedup, quality gate, token stats).
  - no-viral (5.88M): doc_id >= 120,000 — used for the PAIR-emitting
    operators: the viral group alone would emit C(120k, 2) ≈ 7.2e9
    member pairs (~100+ GB), which is an OUTPUT-size property of the
    query, not an execution limit; the pockets still contribute
    10k × C(10,2) = 450k true near-dup pairs to find.

Every result is forced end-to-end with a noop sink / count; wall
seconds and output sizes are recorded. Appends one JSON line to
OPS_AT_SCALE_r12.json.

Usage: python tools/ops_at_scale.py [--skip-minhash]
"""

from __future__ import annotations

import json
import os
import time

import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

SRC = "/tmp/probe6m/documents.parquet"
OUT = os.environ.get(
    "OPS_AT_SCALE_OUT", os.path.join(REPO, "OPS_AT_SCALE_r13.json")
)


def build_corpus(spark) -> None:
    """Write the 6M-doc corpus to SRC: doc_id < 120,000 is ONE viral
    text, the next 100,000 ids are 10,000 texts x 10 copies, and the
    rest is a unique ~224-char hex text (7 chained md5 blocks of the
    id)."""
    n, g_viral, pocket_texts = 6_000_000, 120_000, 10_000
    pocket_end = g_viral + pocket_texts * 10
    viral = "the quick brown fox jumps over the lazy dog " * 5  # ~225 chars
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    uniq = F.concat(*[
        F.md5(F.concat(F.lit(f"u{j}:"), F.col("doc_id").cast("string")))
        for j in range(7)
    ])  # 7 x 32 hex chars = 224
    pocket_key = F.pmod(F.col("doc_id") - g_viral, F.lit(pocket_texts))
    pocket = F.concat(*[
        F.md5(F.concat(F.lit(f"p{j}:"), pocket_key.cast("string")))
        for j in range(7)
    ])
    text = (
        F.when(F.col("doc_id") < g_viral, F.lit(viral))
        .when(F.col("doc_id") < pocket_end, pocket)
        .otherwise(uniq)
    )
    (
        ids.withColumn("text", text)
        .repartition(32)
        .write.mode("overwrite")
        .parquet(SRC)
    )


def commit_sha() -> str:
    """Stamp every emitted row with the code identity it ran under
    (round-12 verdict "What's wrong #1": the r12 JSONL interleaved
    pre- and post-regexp-fix readings with nothing in-row to tell
    them apart — see tools/ops_at_scale_report.py). Pinned at import:
    a commit landing mid-run must not change what later rows claim."""
    return _COMMIT_AT_START


def _read_commit_sha() -> str:
    import subprocess

    return subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()


# pinned at IMPORT so a commit landing mid-run can't stamp rows with a
# sha the executing module image never saw
_COMMIT_AT_START = _read_commit_sha()


def timed(label, df, results):
    # noop sink forces EVERY column end-to-end — a bare count() lets
    # Catalyst prune row-preserving transforms down to a metadata count
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 2)
    t0 = time.time()
    n = df.count()
    results[label] = {"wall_sec": dt, "out_rows": n,
                      "count_only_sec": round(time.time() - t0, 2)}
    print(f"{label}: {dt}s, {n} rows", flush=True)
    return n


def main() -> None:
    from datamine_v2_0_spark.session import get_spark
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.operators import text as tx

    spark = get_spark("ops-at-scale")
    if not os.path.isdir(SRC):
        build_corpus(spark)
    full = spark.read.parquet(SRC)
    no_viral = full.filter(F.col("doc_id") >= 120_000)

    results: dict[str, dict] = {}

    # corpus-sized outputs on the FULL 6M corpus
    timed("dedup_exact_6m", dd.exact_dedup(full, "text", "doc_id"), results)
    timed(
        "text_profile_6m",
        tx.text_profile(full, "text", "doc_id"),
        results,
    )
    timed(
        "gopher_gate_6m",
        tx.gopher_gate(full, "text", "doc_id"),
        results,
    )

    if "--skip-minhash" not in sys.argv:
        # pair-emitting near-dedup on the no-viral shape; its 10-copy
        # groups are below the pair family's routing size, so every doc
        # stands for itself. The generated texts are
        # single 224-char tokens — unshingleable at word 3-grams — so
        # the pair test spaces them into 8-char words on the fly
        # (duplicates stay duplicates, uniques stay unique): the 10k
        # pockets of 10 then yield 10,000 x C(10,2) = 450,000 true
        # near-dup pairs for the banding + verify machinery to find.
        wordy = no_viral.withColumn(
            "text", F.regexp_replace("text", "(.{8})", "$1 ")
        )
        t0 = time.time()
        pairs = dd.minhash_near_dup_pairs(
            wordy, "text", "doc_id", duplicate_collapse="auto"
        )
        n_pairs = pairs.count()
        dt = round(time.time() - t0, 2)
        results["minhash_near_dup_5.88m"] = {
            "wall_sec": dt,
            "out_rows": n_pairs,
        }
        print(f"minhash_near_dup_5.88m: {dt}s, {n_pairs} pairs", flush=True)

    row = {
        "metric": "operators_at_6m_docs",
        "commit": commit_sha(),
        "src": SRC,
        "n_full": 6_000_000,
        "n_no_viral": 5_880_000,
        "results": results,
    }
    with open(OUT, "a") as f:
        f.write(json.dumps(row) + "\n")
    print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
