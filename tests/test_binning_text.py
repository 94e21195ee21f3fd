"""Binning + TF-IDF operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from datamine_v2_0_spark.operators import binning as bn
from datamine_v2_0_spark.operators import text as tx
from datamine_v2_0_spark.operators.text import tfidf_top_terms


def test_fixed_width_bins(spark):
    df = spark.createDataFrame(
        [Row(x=v) for v in [-1.0, 0.0, 4.9, 5.0, 49.9, 50.0, 51.0]], "x double"
    )
    got = [r["b"] for r in df.select(
        bn.fixed_width_bins(F.col("x"), 0.0, 50.0, 10).alias("b")
    ).collect()]
    assert got == [None, 0, 0, 1, 9, 9, None]


def test_explicit_bins(spark):
    df = spark.createDataFrame(
        [Row(x=v) for v in [0.0, 0.5, 1.0, 1.5, 10.0, 11.0]], "x double"
    )
    got = [r["b"] for r in df.select(
        bn.explicit_bins(F.col("x"), [0.0, 1.0, 10.0]).alias("b")
    ).collect()]
    # pandas right-closed: (0,1] -> 0, (1,10] -> 1; 0.0 and 11.0 outside
    assert got == [None, 0, 0, 1, 1, None]


def test_quantile_bins_exact_balanced(spark):
    df = spark.createDataFrame([Row(i=i, x=float(i)) for i in range(100)])
    out = bn.quantile_bins_exact(df, "x", 4, "q", "i")
    counts = {r["q"]: r["n"] for r in
              out.groupBy("q").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 25, 1: 25, 2: 25, 3: 25}


def test_quantile_bins_exact_matches_ntile(spark):
    """The round-7 scale-safe rewrite (distributed prefix-sum rank +
    closed-form bucket arithmetic — no single-task global NTILE window)
    must reproduce SQL NTILE semantics bit-for-bit, including the
    uneven-remainder split and k > n."""
    import random

    from pyspark.sql import Window

    random.seed(7)
    df = spark.createDataFrame(
        [(i, random.random() * 100) for i in range(197)], "i long, x double"
    )
    for k in (1, 3, 4, 7, 197, 300):
        got = {r["i"]: r["q"] for r in
               bn.quantile_bins_exact(df, "x", k, "q", "i", buckets=5).collect()}
        w = Window.orderBy(F.col("x"), F.col("i"))
        exp = {r["i"]: r["q"] for r in
               df.withColumn("q", F.ntile(k).over(w) - 1).collect()}
        assert got == exp, k


def test_fraction_of_total_broadcast_form(spark):
    """fraction_of_total (round-7 rewrite: broadcast 1-row total, no
    empty-partition window) sums to 100% and matches per-group shares."""
    from datamine_v2_0_spark.operators.joins import fraction_of_total

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    got = {r["k"]: (r["n"], r["pct"]) for r in
           fraction_of_total(df, ["k"]).collect()}
    assert got == {"a": (6, 60.0), "b": (3, 30.0), "c": (1, 10.0)}


def test_tfidf_ranks_distinctive_terms(spark):
    docs = [
        Row(doc_id=1, text="apple apple apple banana the the"),
        Row(doc_id=2, text="banana banana cherry the the"),
        Row(doc_id=3, text="cherry dates dates the the"),
    ]
    df = spark.createDataFrame(docs)
    got = {r["doc_id"]: r["term"] for r in
           tfidf_top_terms(df, "text", "doc_id", k=1).collect()}
    # the common word 'the' must never win; distinctive repeated terms do
    assert got == {1: "apple", 2: "banana", 3: "dates"}


def test_redact_pii_rules(spark):
    from datamine_v2_0_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.co.uk now",),
         ("docs at https://a.b/c?q=1#f end",),
         ("call +1 555-123-4567 today",),
         ("email inside http://x.io/a@b.com stays one URL",),
         ("clean text stays untouched",)],
        "t string",
    )
    got = [r["r"] for r in df.select(redact_pii(F.col("t")).alias("r")).collect()]
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "docs at <URL> end"
    assert got[2] == "call <PHONE> today"
    # URL rule runs first, so the @ inside the URL is already consumed
    assert got[3] == "email inside <URL> stays one URL"
    assert got[4] == "clean text stays untouched"


def test_top_ngrams_counts_every_occurrence(spark):
    from datamine_v2_0_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [Row(text="a b a b a b"), Row(text="a b c"), Row(text="x")]
    )
    got = [(r["ngram"], r["n_occur"]) for r in top_ngrams(df, "text", 2, 3).collect()]
    # "a b" occurs 3x in doc1 (every occurrence, not per-doc distinct)
    # + 1x in doc2; one-word docs contribute nothing
    assert got == [("a b", 4), ("b a", 2), ("b c", 1)]


def test_chunk_documents_window_math(spark):
    from datamine_v2_0_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
         (2, "a b c"),                                # fits one window
         (3, "")],                                    # no rows
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
           for r in chunk_documents(docs, "text", "doc_id",
                                    chunk_tokens=8, overlap=4).collect()}
    # n=10, chunk=8, stride=4 -> 1 + ceil(2/4) = 2 windows: [0:8], [4:10];
    # NO third window (it would add no new tokens)
    assert set(got) == {(1, 0), (1, 1), (2, 0)}
    assert got[(1, 0)] == (" ".join(f"w{i}" for i in range(8)), 8)
    assert got[(1, 1)] == (" ".join(f"w{i}" for i in range(4, 10)), 6)
    assert got[(2, 0)] == ("a b c", 3)
    # overlap tokens really overlap
    assert got[(1, 0)][0].split()[-4:] == got[(1, 1)][0].split()[:4]

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "text", "doc_id", chunk_tokens=4, overlap=4)


def test_pack_chunks_invariants(spark):
    from datamine_v2_0_spark.operators.text import pack_chunks

    rows = [(s, i, t) for s in (0, 1)
            for i, t in enumerate([30, 30, 30, 10, 10, 5, 90])]
    df = spark.createDataFrame(rows, "shard int, chunk_id int, n_tokens long")
    got = pack_chunks(df, "shard", ["chunk_id"], "n_tokens", capacity=64).collect()

    # every chunk appears exactly once
    assert sorted((r["shard"], r["chunk_id"]) for r in got) == sorted(
        (s, i) for s, i, _ in rows
    )
    # capacity respected except single-oversize-chunk bins
    from collections import defaultdict
    bins = defaultdict(list)
    for r in got:
        bins[(r["shard"], r["bin_id"])].append(r)
    for members in bins.values():
        total = sum(r["n_tokens"] for r in members)
        assert all(r["bin_tokens"] == total for r in members)
        assert total <= 64 or len(members) == 1
    # FFD packs [30,30,30,10,10,5] + oversize 90 into 3 bins per shard:
    # {30+30}, {30+10+10+5}, {90}
    per_shard = {s: len({r["bin_id"] for r in got if r["shard"] == s})
                 for s in (0, 1)}
    assert per_shard == {0: 3, 1: 3}
    # deterministic across runs
    again = pack_chunks(df, "shard", ["chunk_id"], "n_tokens", capacity=64).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    # zero-token chunks must not slip into an oversize chunk's bin
    z = spark.createDataFrame(
        [(0, 1, 90), (0, 2, 0)], "shard int, chunk_id int, n_tokens long"
    )
    zb = pack_chunks(z, "shard", ["chunk_id"], "n_tokens", capacity=64).collect()
    assert {r["chunk_id"]: r["bin_id"] for r in zb}[1] != {
        r["chunk_id"]: r["bin_id"] for r in zb
    }[2]


def test_pack_chunks_nextfit_sequence(spark):
    from datamine_v2_0_spark.operators.text import pack_chunks_nextfit

    rows = [(0, i, t) for i, t in enumerate([30, 30, 30, 90, 10, 10, 50, 5])]
    df = spark.createDataFrame(rows, "shard int, chunk_id int, n_tokens long")
    got = {r["chunk_id"]: r["bin_id"] for r in
           pack_chunks_nextfit(df, "shard", ["chunk_id"], "n_tokens",
                               capacity=64).collect()}
    # 30+30 fit; +30 overflows -> bin2; 90 oversize alone -> bin3 (and
    # forces bin4 next); 10+10+5? no: order preserved: 10,10 -> bin4,
    # 50 overflows 20+50>64? 10+10=20, +50=70>64 -> bin5, +5 fits bin5
    assert got == {0: 1, 1: 1, 2: 2, 3: 3, 4: 4, 5: 4, 6: 5, 7: 5}


def test_compression_ratio_orders_text_types(spark):
    from datamine_v2_0_spark.operators import text as tx

    import random

    rng = random.Random(0)
    noise = "".join(chr(rng.randrange(33, 127)) for _ in range(1600))
    rows = [
        (1, "spam spam spam " * 200),                      # boilerplate
        (2, "The quarterly report outlines diverse revenue trends "
            "across regions, with nuanced shifts in demand. " * 8),
        (3, noise),                                        # incompressible
        (4, ""),                                           # empty -> NULL
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in tx.compression_ratio(df, "text", "doc_id").collect()}
    # repetitive boilerplate << prose < random noise
    assert got[1]["compression_ratio"] < got[2]["compression_ratio"] < got[3]["compression_ratio"]
    assert got[1]["compression_ratio"] < 0.05
    assert got[3]["compression_ratio"] > 0.7
    assert got[4]["compression_ratio"] is None
    assert got[5]["compression_ratio"] is None
    assert got[2]["n_bytes"] == len(rows[1][1].encode())
    assert got[1]["n_compressed"] == 35  # deterministic zlib level 6


def test_quantile_bins_exact_check_unique_guard(spark):
    """A non-unique tiebreak silently yields layout-dependent bins
    (the _dist_prefix_sums distinct-key precondition); check_unique
    turns that into a loud failure, and a unique key passes."""
    import pytest

    from datamine_v2_0_spark.operators import binning as bn

    dup = spark.createDataFrame(
        [(1.0, 1), (1.0, 1), (2.0, 2)], ["x", "i"]
    )
    with pytest.raises(ValueError, match="not unique"):
        bn.quantile_bins_exact(dup, "x", 2, "q", "i", check_unique=True)
    ok = spark.createDataFrame([(1.0, 1), (1.0, 2), (2.0, 3)], ["x", "i"])
    rows = bn.quantile_bins_exact(
        ok, "x", 2, "q", "i", check_unique=True
    ).collect()
    assert len(rows) == 3


def test_quantile_bins_exact_check_unique_allows_null_values(spark):
    """NULLs in the value column must not trip the uniqueness guard
    when the tiebreak itself is unique."""
    from datamine_v2_0_spark.operators import binning as bn

    df = spark.createDataFrame(
        [(None, 1), (None, 2), (2.0, 3)], "x double, i int"
    )
    rows = bn.quantile_bins_exact(
        df, "x", 2, "q", "i", check_unique=True
    ).collect()
    assert len(rows) == 3


# ---------------------------------------------------------------------------
# vocab_js_divergence
# ---------------------------------------------------------------------------


def test_js_divergence_identical_and_disjoint(spark):
    same = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "src string, text string"
    )
    r = tx.vocab_js_divergence(same, "text", "src", "a", "b").collect()[0]
    assert r.jsd == 0.0 and r.vocab == 3 and r.n_tokens_a == 3
    disjoint = spark.createDataFrame(
        [("a", "x y"), ("b", "u v")], "src string, text string"
    )
    assert tx.vocab_js_divergence(
        disjoint, "text", "src", "a", "b"
    ).collect()[0].jsd == 1.0  # JSD base 2 of disjoint supports is exactly 1


def test_js_divergence_hand_computed(spark):
    import math

    # A: {x: 2/3, y: 1/3}; B: {x: 1/3, y: 2/3}
    df = spark.createDataFrame(
        [("a", "x x y"), ("b", "x y y")], "src string, text string"
    )
    got = tx.vocab_js_divergence(df, "text", "src", "a", "b").collect()[0]

    def kl(p, m):
        return p * math.log2(p / m)

    want = 0.5 * (kl(2 / 3, 0.5) + kl(1 / 3, 0.5)) + 0.5 * (
        kl(1 / 3, 0.5) + kl(2 / 3, 0.5)
    )
    assert got.jsd == round(want, 6)
    assert (got.n_tokens_a, got.n_tokens_b, got.vocab) == (3, 3, 2)


def test_js_divergence_empty_side_is_null(spark):
    df = spark.createDataFrame(
        [("a", "x y"), ("b", None), ("b", "  ")], "src string, text string"
    )
    r = tx.vocab_js_divergence(df, "text", "src", "a", "b").collect()[0]
    assert r.jsd is None and r.n_tokens_b == 0
    empty = spark.createDataFrame([], "src string, text string")
    r2 = tx.vocab_js_divergence(empty, "text", "src", "a", "b").collect()[0]
    assert r2.jsd is None and r2.vocab == 0
