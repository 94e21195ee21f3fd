"""Run the text family at realistic DOCUMENT LENGTHS (round-13 verdict
task 4): every prior scale execution used ~220-byte docs (the 6M-doc
corpus, TESTDATA's documents are similar), but web-crawl corpora run
KB–MB per doc, and shingle-set width, signature UDF memory, and
shuffle bytes all scale with doc LENGTH, not doc count. One band at
1M x 2–8 KB measures per-byte vs per-doc cost for text_profile,
gopher_gate, minhash_near_dup_pairs, and dedup_against.

Corpus (deterministic Spark expressions, no RNG, /tmp/textkb):
n = 1,000,000 docs; text = space-joined 32-hex-char md5 "words",
one md5 per block index, so every doc is full-entropy (shingles
cannot collide across distinct docs) yet reproducible:
  - doc_id 0..99,999: 10,000 pockets x 10 identical copies
    (pocket p = doc_id // 10; 450,000 planted true pairs at word
    3-gram Jaccard 1.0 — same planted shape as the r12 wordy run),
  - doc_id 100,000..999,999: unique docs.
Length class = key mod 4 -> 64/128/192/256 blocks = ~2.1/4.2/6.3/8.4
KB (~5.3 GB text total vs the r12 corpus's ~1.3 GB for 6M docs — 4x
the bytes at 1/6 the docs, which is exactly the per-byte/per-doc
separation the band needs).

Oracles at this scale, like the r12 runs:
  - minhash_near_dup_pairs (auto) must return EXACTLY the 450,000
    planted within-pocket pairs (identical copies -> identical
    signatures -> guaranteed candidacy; unique docs are full-entropy
    md5 words, zero spurious shingle overlap),
  - dedup_against (new = all 1M, ref = every-10th doc) must return
    EXACTLY 810,000 survivors: every pocket doc dies (copy 10p is in
    ref), every unique doc with id % 10 == 0 dies, the remaining
    810,000 uniques survive — cross-checked against method='exact'
    (content-hash anti join) row-for-row via a distributed
    fingerprint.

Rows append to OPS_AT_SCALE_r13.json, stamped with the git commit
(tools/ops_at_scale_report.py discipline).

Usage: python tools/text_kb_at_scale.py [--skip-against] [--skip-minhash]
"""

from __future__ import annotations

import json
import os
import time

import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import functions as F

from ops_at_scale import commit_sha

SRC = "/tmp/textkb/documents.parquet"
OUT = os.environ.get(
    "OPS_AT_SCALE_OUT", os.path.join(REPO, "OPS_AT_SCALE_r13.json")
)
N = 1_000_000
N_POCKETS = 10_000
POCKET_COPIES = 10
UNIQUE_START = N_POCKETS * POCKET_COPIES  # 100,000
EXPECTED_PAIRS = N_POCKETS * POCKET_COPIES * (POCKET_COPIES - 1) // 2  # 450k
EXPECTED_SURVIVORS = (N - UNIQUE_START) * 9 // 10  # 810,000


def build_corpus(spark) -> float:
    t0 = time.time()
    ids = spark.range(N).select(F.col("id").alias("doc_id"))
    pocket = (F.col("doc_id") / POCKET_COPIES).cast("long")
    key = (
        F.when(
            F.col("doc_id") < UNIQUE_START,
            F.concat(F.lit("P"), pocket.cast("string")),
        )
        .otherwise(F.concat(F.lit("U"), F.col("doc_id").cast("string")))
    )
    lenkey = F.when(F.col("doc_id") < UNIQUE_START, pocket).otherwise(
        F.col("doc_id")
    )
    nblocks = (F.pmod(lenkey, F.lit(4)) + 1) * 64  # 64/128/192/256
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), nblocks.cast("int")),
            lambda j: F.md5(
                F.concat(F.col("__key"), F.lit(":"), j.cast("string"))
            ),
        ),
    )
    (
        ids.withColumn("__key", key)
        .select("doc_id", text.alias("text"))
        .repartition(64)
        .write.mode("overwrite")
        .parquet(SRC)
    )
    return time.time() - t0


def emit(results: dict, corpus_stats: dict) -> None:
    row = {
        "metric": "text_kb_band",
        "commit": commit_sha(),
        "src": SRC,
        **corpus_stats,
        "results": results,
    }
    with open(OUT, "a") as f:
        f.write(json.dumps(row) + "\n")
    print(json.dumps(row), flush=True)


def main() -> None:
    from datamine_v2_0_spark.session import get_spark
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.operators import text as tx

    spark = get_spark("text-kb-at-scale")
    if not os.path.isdir(SRC):
        sec = build_corpus(spark)
        print(f"corpus built in {sec:.1f}s", flush=True)
    df = spark.read.parquet(SRC)
    # warm the page cache so op 1 isn't charged the cold scan
    df.write.format("noop").mode("overwrite").save()
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("b"),
    ).first()
    n_docs, total_bytes = int(r["n"]), int(r["b"])
    corpus_stats = {
        "n_docs": n_docs,
        "total_text_gb": round(total_bytes / 2**30, 3),
        "mean_doc_bytes": round(total_bytes / n_docs, 1),
    }
    print(json.dumps(corpus_stats), flush=True)

    results: dict[str, dict] = {}

    def timed(label, frame):
        t0 = time.time()
        frame.write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 2)
        n = frame.count()
        results[label] = {
            "wall_sec": dt,
            "out_rows": n,
            "sec_per_gb": round(dt / (total_bytes / 2**30), 2),
        }
        print(f"{label}: {dt}s, {n} rows", flush=True)
        return n

    timed("text_profile_1m_kb", tx.text_profile(df, "text", "doc_id"))
    timed("gopher_gate_1m_kb", tx.gopher_gate(df, "text", "doc_id"))

    if "--skip-minhash" not in sys.argv:
        n_pairs = timed(
            "minhash_near_dup_1m_kb",
            dd.minhash_near_dup_pairs(
                df, "text", "doc_id", duplicate_collapse="auto"
            ),
        )
        results["minhash_near_dup_1m_kb"]["pairs_match_planted"] = (
            n_pairs == EXPECTED_PAIRS
        )
        results["minhash_near_dup_1m_kb"]["expected_pairs"] = EXPECTED_PAIRS

    if "--skip-against" not in sys.argv:
        ref = df.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
        t0 = time.time()
        surv = dd.dedup_against(df, ref, "text", "doc_id", method="near")
        n_surv = surv.count()
        dt = round(time.time() - t0, 2)
        # exact content-hash oracle, compared row-for-row
        exact = dd.dedup_against(df, ref, "text", "doc_id", method="exact")
        fp = lambda d: tuple(  # noqa: E731
            d.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64(F.col("doc_id")).cast("decimal(38,0)")),
            ).first()
        )
        results["dedup_against_1m_kb"] = {
            "wall_sec": dt,
            "sec_per_gb": round(dt / (total_bytes / 2**30), 2),
            "survivors": n_surv,
            "expected_survivors": EXPECTED_SURVIVORS,
            "survivors_match_exact_oracle": fp(surv.select("doc_id"))
            == fp(exact.select("doc_id")),
        }
        print(json.dumps(results["dedup_against_1m_kb"]), flush=True)

    emit(results, corpus_stats)


if __name__ == "__main__":
    main()
