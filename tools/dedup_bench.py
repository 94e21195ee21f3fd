"""Text-dedup scale benchmark: MinHash-LSH near-dup candidate generation
over a synthetic corpus with PLANTED near-duplicates, measuring both
throughput and recall of the planted pairs.

Corpus: N docs of ~60 vocab-hashed words; every doc with id % 10 == 1 is
a near-copy of doc id-1 (same content seed + a 3-token suffix, Jaccard
≈ 0.9) — so N/10 known near-dup pairs. Candidate generation must find
them via banded LSH (never all-pairs; the plan is asserted cartesian-free
in tests/test_plans.py).

Usage: python tools/dedup_bench.py [n_docs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from datamine_v2_0_spark.operators.dedup import minhash_lsh_candidates
from datamine_v2_0_spark.session import get_spark


def corpus(spark, n_docs: int, words: int = 60, vocab: int = 5000):
    df = spark.range(n_docs).withColumn(
        "seed",
        F.when(F.col("id") % 10 == 1, F.col("id") - 1).otherwise(F.col("id")),
    )
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(words)),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(F.col("seed"), i), F.lit(vocab))
            ),
        ),
        " ",
    )
    text = F.when(
        F.col("id") % 10 == 1, F.concat(body, F.lit(" xx yy zz"))
    ).otherwise(body)
    return df.select(F.col("id").alias("doc_id"), text.alias("text"))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark("dedup_bench")
    spark.range(1000).count()  # warm

    docs = corpus(spark, n_docs)
    docs.write.mode("overwrite").format("noop").save()  # warm generation path

    t0 = time.time()
    cands = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=64, bands=16
    )
    planted_found = (
        cands.filter(
            (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_b") % 10 == 1)
        )
        .count()
    )
    n_cands = cands.count()
    elapsed = time.time() - t0

    n_planted = sum(1 for i in range(n_docs) if i % 10 == 1)
    print(
        json.dumps(
            {
                "metric": "dedup_minhash_lsh_seconds",
                "value": round(elapsed, 2),
                "unit": "sec",
                "docs": n_docs,
                "docs_per_sec": int(n_docs / elapsed),
                "planted_pairs": n_planted,
                "planted_recall": round(planted_found / n_planted, 4),
                "candidate_pairs": n_cands,
            }
        )
    )


if __name__ == "__main__":
    main()
