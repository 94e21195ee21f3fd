"""BM25 lexical retrieval: scoring semantics, ranking, plan shape."""

from __future__ import annotations

import math

import pytest

from datamine_v2_0_spark.operators import retrieval as rt


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "banana banana banana cherry"),
            (4, "durian elderberry fig"),
        ],
        ["doc_id", "text"],
    )


def _run(spark, qrows, k=10, **kw):
    q = spark.createDataFrame(qrows, ["qid", "qtext"])
    out = rt.bm25_topk(
        _corpus(spark), q, "text", "doc_id", "qtext", "qid", k=k, **kw
    )
    return [(r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in out.collect()]


def test_bm25_single_term_known_value(spark):
    """Hand-computed Lucene-BM25 for query 'apple' (df=2, N=4)."""
    rows = _run(spark, [(0, "apple")])
    # corpus: dl = [3, 2, 4, 3], avgdl = 3.0
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    def s(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    got = {(d): sc for _, d, sc, _ in rows}
    assert got[1] == pytest.approx(round(s(2, 3), 6), abs=1e-9)
    assert got[2] == pytest.approx(round(s(1, 2), 6), abs=1e-9)
    assert set(got) == {1, 2}  # docs without the term never appear


def test_bm25_rank_order_and_k(spark):
    rows = _run(spark, [(0, "banana cherry")], k=2)
    assert len(rows) == 2
    # doc 3 matches both terms with high tf -> rank 1
    assert rows[0][1] == 3 and rows[0][3] == 1
    ranks = [r[3] for r in rows]
    assert ranks == [1, 2]


def test_bm25_query_term_presence_not_frequency(spark):
    """Repeating a term in the query must not change scores (distinct)."""
    a = _run(spark, [(0, "apple")])
    b = _run(spark, [(0, "apple apple apple")])
    assert a == b


def test_bm25_multi_query_isolated(spark):
    rows = _run(spark, [(0, "apple"), (1, "durian")])
    by_q = {}
    for q, d, _, _ in rows:
        by_q.setdefault(q, set()).add(d)
    assert by_q[0] == {1, 2}
    assert by_q[1] == {4}


def test_bm25_no_match_empty(spark):
    assert _run(spark, [(0, "zzz qqq")]) == []


def test_bm25_plan_no_cartesian_and_broadcast(spark):
    q = spark.createDataFrame([(0, "apple")], ["qid", "qtext"])
    df = rt.bm25_topk(_corpus(spark), q, "text", "doc_id", "qtext", "qid")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no all-pairs product; the single BroadcastNestedLoopJoin is the
    # 1-row corpus-stats fold-in (linear, same pattern as unigram_logprob)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # query-term semi filter must be a broadcast hash join on term
    assert "BroadcastHashJoin" in plan


def _ranked(spark, rows):
    return spark.createDataFrame(rows, ["query_id", "doc_id", "rank"])


def test_rrf_both_lists_beat_one(spark):
    lex = _ranked(spark, [(1, 10, 1), (1, 11, 2)])
    dense = _ranked(spark, [(1, 11, 1), (1, 12, 2)])
    out = {r["doc_id"]: r for r in rt.rrf_fuse([lex, dense], k=10).collect()}
    # doc 11 (rank 2 + rank 1) outranks both single-list docs
    assert out[11]["rank"] == 1 and out[11]["n_lists"] == 2
    assert out[11]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61, abs=1e-6)
    assert out[10]["n_lists"] == 1
    assert out[10]["rrf_score"] == pytest.approx(1 / 61, abs=1e-6)
    # tie between 10 (lex rank 1) and 12 (dense... ) no: 12 has rank 2
    assert out[12]["rrf_score"] == pytest.approx(1 / 62, abs=1e-6)


def test_rrf_topk_and_tiebreak(spark):
    # equal scores -> doc_id ascending breaks the tie deterministically
    lex = _ranked(spark, [(1, 20, 1), (1, 30, 2)])
    dense = _ranked(spark, [(1, 40, 1), (1, 50, 2)])
    rows = rt.rrf_fuse([lex, dense], k=2).collect()
    got = [(r["doc_id"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(20, 1), (40, 2)]  # 20 and 40 tie at 1/61; id-asc wins


def test_rrf_per_query_isolation(spark):
    lex = _ranked(spark, [(1, 10, 1), (2, 99, 1)])
    out = rt.rrf_fuse([lex], k=5)
    got = {(r["query_id"], r["doc_id"]) for r in out.collect()}
    assert got == {(1, 10), (2, 99)}


def test_rrf_empty_input_raises(spark):
    import pytest as _pt

    with _pt.raises(ValueError):
        rt.rrf_fuse([])


# --- duplicate collapse (round-8: the duplicate-heavy scale path) -------


def _dup_corpus(spark, copies=3):
    """Every base doc repeated `copies` times under distinct ids, plus one
    unique doc — exercises groups the top-k boundary cuts through."""
    base = [
        (1, "apple banana apple"),
        (2, "apple cherry"),
        (3, "banana banana banana cherry"),
    ]
    rows = []
    for c in range(copies):
        rows += [(d + 100 * c, t) for d, t in base]
    rows.append((999, "apple durian"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _collect_sorted(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in df.collect()
    )


@pytest.mark.parametrize("k", [1, 2, 4, 50])
def test_bm25_collapsed_matches_direct_on_duplicates(spark, k):
    docs = _dup_corpus(spark)
    # duplicated probes too: two qids share one text (collapse on both sides)
    q = spark.createDataFrame(
        [(0, "apple"), (1, "apple"), (2, "banana cherry")], ["qid", "qtext"]
    )
    kw = dict(k=k)
    direct = rt.bm25_topk(
        docs, q, "text", "doc_id", "qtext", "qid",
        duplicate_collapse="never", **kw,
    )
    collapsed = rt.bm25_topk(
        docs, q, "text", "doc_id", "qtext", "qid",
        duplicate_collapse="always", **kw,
    )
    assert _collect_sorted(direct) == _collect_sorted(collapsed)


def test_bm25_auto_picks_collapse_and_stays_exact(spark):
    docs = _dup_corpus(spark, copies=4)
    q = spark.createDataFrame([(0, "apple cherry")], ["qid", "qtext"])
    auto = rt.bm25_topk(
        docs, q, "text", "doc_id", "qtext", "qid", k=5,
    )
    never = rt.bm25_topk(
        docs, q, "text", "doc_id", "qtext", "qid", k=5,
        duplicate_collapse="never",
    )
    assert _collect_sorted(auto) == _collect_sorted(never)


def test_bm25_collapse_boundary_inside_group(spark):
    """k cuts inside a duplicate group: the prune must keep the whole
    tying group and let doc_id order decide the final members."""
    docs = spark.createDataFrame(
        [(i, "apple pie") for i in range(10, 16)]  # one group of 6 twins
        + [(1, "apple apple apple apple")],        # higher tf -> rank 1
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(0, "apple")], ["qid", "qtext"])
    out = rt.bm25_topk(
        docs, q, "text", "doc_id", "qtext", "qid", k=3,
        duplicate_collapse="always",
    )
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in rows] == [1, 10, 11]
    assert [r["rank"] for r in rows] == [1, 2, 3]
    # twins share one score
    assert rows[1]["score"] == rows[2]["score"]


def test_bm25_collapsed_normalization_dups_merge(spark):
    """Case/whitespace variants normalize to one fingerprint and must
    score identically to direct evaluation."""
    docs = spark.createDataFrame(
        [(1, "Apple  Banana"), (2, "apple banana"), (3, "cherry")],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(0, "apple")], ["qid", "qtext"])
    a = rt.bm25_topk(docs, q, "text", "doc_id", "qtext", "qid",
                     duplicate_collapse="always")
    b = rt.bm25_topk(docs, q, "text", "doc_id", "qtext", "qid",
                     duplicate_collapse="never")
    assert _collect_sorted(a) == _collect_sorted(b)
    assert {r[1] for r in _collect_sorted(a)} == {1, 2}


def test_bm25_invalid_collapse_mode_raises(spark):
    docs = _corpus(spark)
    q = spark.createDataFrame([(0, "apple")], ["qid", "qtext"])
    with pytest.raises(ValueError):
        rt.bm25_topk(docs, q, "text", "doc_id", "qtext", "qid",
                     duplicate_collapse="sometimes")


def test_bm25_collapsed_plan_no_cartesian(spark):
    q = spark.createDataFrame([(0, "apple")], ["qid", "qtext"])
    df = rt.bm25_topk(
        _dup_corpus(spark), q, "text", "doc_id", "qtext", "qid",
        duplicate_collapse="always",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


# ---------------------------------------------------------------------------
# retrieval_eval (nDCG@k / MRR@k / recall@k)
# ---------------------------------------------------------------------------


def test_retrieval_eval_hand_computed(spark):
    import math

    results = spark.createDataFrame(
        [("q1", "d1", 1), ("q1", "d2", 2), ("q1", "d3", 3),
         ("q2", "d7", 1), ("q2", "d8", 2)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", "d2"), ("q1", "d4"), ("q1", "d5"), ("q1", "d9"),
         ("q3", "d1"), ("q3", "d2")],
        "query_id string, doc_id string",
    )
    got = {
        r.query_id: r
        for r in rt.retrieval_eval(results, qrels, k=3).collect()
    }
    assert set(got) == {"q1", "q2", "q3"}
    idcg = sum(1.0 / math.log2(i + 1) for i in range(1, 4))  # min(3, 4) ideal
    dcg = 1.0 / math.log2(3)  # d2 hit at rank 2
    assert got["q1"].ndcg == round(dcg / idcg, 6)
    assert got["q1"].mrr == 0.5
    assert got["q1"].recall == 0.25
    assert got["q1"].n_rel == 4
    # retrieved nothing relevant / judged nothing
    assert (got["q2"].ndcg, got["q2"].mrr, got["q2"].recall, got["q2"].n_rel) == (0.0, 0.0, 0.0, 0)
    # judged but never retrieved
    assert (got["q3"].ndcg, got["q3"].mrr, got["q3"].recall, got["q3"].n_rel) == (0.0, 0.0, 0.0, 2)


def test_retrieval_eval_k_cutoff_and_perfect(spark):
    results = spark.createDataFrame(
        [("q", "a", 1), ("q", "b", 2), ("q", "c", 3)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q", "a"), ("q", "b"), ("q", "c")], "query_id string, doc_id string"
    )
    perfect = rt.retrieval_eval(results, qrels, k=3).collect()[0]
    assert (perfect.ndcg, perfect.mrr, perfect.recall) == (1.0, 1.0, 1.0)
    # rank-3 hit invisible at k=2: recall drops, ndcg uses min(k, n_rel)
    cut = rt.retrieval_eval(results, qrels, k=2).collect()[0]
    assert cut.ndcg == 1.0 and cut.recall == round(2 / 3, 6)


def test_retrieval_eval_empty_inputs(spark):
    empty_r = spark.createDataFrame([], "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame([("q", "d")], "query_id string, doc_id string")
    got = rt.retrieval_eval(empty_r, qrels, k=5).collect()
    assert len(got) == 1 and got[0].ndcg == 0.0 and got[0].n_rel == 1
    empty_q = spark.createDataFrame([], "query_id string, doc_id string")
    results = spark.createDataFrame([("q", "d", 1)], "query_id string, doc_id string, rank int")
    got2 = rt.retrieval_eval(results, empty_q, k=5).collect()
    assert len(got2) == 1 and got2[0].n_rel == 0 and got2[0].ndcg == 0.0
    assert rt.retrieval_eval(empty_r, empty_q, k=5).count() == 0
