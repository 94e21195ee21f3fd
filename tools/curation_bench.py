"""Corpus-curation scale benchmark: the full gate → exact-dedup →
decontaminate → stats chain over a synthetic corpus with PLANTED
failures of every kind, measuring end-to-end throughput and stage
selectivity.

Corpus (N docs, ~51 vocab-hashed words each):
- docs with id % 3 == 0 omit every required stopword → the Gopher gate
  must drop them (~1/3 of the corpus);
- docs with id % 10 == 1 are byte-exact copies of doc id-1 → exact
  dedup must drop whichever of the pair survives the gate alongside its
  twin;
- the eval set is 500 docs that are byte-copies of corpus docs
  (id = 20·e) → decontamination must flag those corpus docs through
  full 4-gram overlap.

Usage: python tools/curation_bench.py [n_docs]     (default 500_000)
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

from datamine_v2_0_spark.pipeline.curation import curate_corpus
from datamine_v2_0_spark.session import get_spark


def _body(seed_col, words: int = 50, vocab: int = 5000):
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(words)),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(seed_col, i), F.lit(vocab))
            ),
        ),
        " ",
    )


def corpus(spark, n_docs: int):
    df = spark.range(n_docs).withColumn(
        "seed",
        F.when(F.col("id") % 10 == 1, F.col("id") - 1).otherwise(F.col("id")),
    )
    # id % 3 == 0 → no stopword → gate drops it; the duplicate pairing
    # (id, id+1) inherits the ORIGINAL id's stopword fate via the seed,
    # so gate decisions agree within a dup pair
    stop = F.when(F.col("seed") % 3 == 0, F.lit("")).otherwise(
        F.lit("the ")
    )
    text = F.concat(stop, _body(F.col("seed")))
    return df.select(F.col("id").alias("doc_id"), text.alias("text"))


def eval_set(spark, n_eval: int = 500):
    ev = spark.range(n_eval).select(
        (F.col("id") * 20).alias("seed"), F.col("id").alias("eid")
    )
    stop = F.when(F.col("seed") % 3 == 0, F.lit("")).otherwise(F.lit("the "))
    return ev.select(
        F.col("eid").alias("doc_id"),
        F.concat(stop, _body(F.col("seed"))).alias("text"),
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    spark = get_spark("curation_bench")
    spark.range(1000).count()  # warm

    docs = corpus(spark, n_docs)
    ev = eval_set(spark)
    docs.write.mode("overwrite").format("noop").save()  # warm generation

    t0 = time.time()
    out = curate_corpus(docs, ev, "text", "doc_id", min_stopwords=1)
    survivors = out.count()
    elapsed = time.time() - t0

    print(
        json.dumps(
            {
                "metric": "curation_chain_seconds",
                "value": round(elapsed, 2),
                "unit": "sec",
                "docs": n_docs,
                "docs_per_sec": int(n_docs / elapsed),
                "survivors": survivors,
                "survivor_frac": round(survivors / n_docs, 4),
            }
        )
    )


if __name__ == "__main__":
    main()
