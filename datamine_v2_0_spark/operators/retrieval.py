"""Sparse lexical retrieval (BM25) over a document corpus.

Training-data pipelines use lexical retrieval constantly: pulling the
nearest training documents to an eval probe (contamination audits), mining
hard negatives, and quality-weighted corpus sampling. This is the
inverted-index counterpart of the dense-ANN operators in
``operators/similarity.py``.

BM25 (Robertson/Spärck Jones probabilistic relevance framework; the
``k1``/``b`` parameterization and the non-negative ``ln(1 + ...)`` idf are
the Lucene variant) is fully declarative here — the whole operator is
Column algebra that Catalyst keeps inside whole-stage codegen:

    scan → explode tokens → per-(doc, term) TF   [1 shuffle on (doc, term)]
         → doc length + corpus avgdl             [narrow re-aggs of TF]
         → per-term document frequency → idf     [1 shuffle on term]
         → broadcast the (small) query-term set  [map-side semi filter]
         → score matching postings → per-query top-k window

The broadcast of the query terms is the scale pivot: the posting join
filters the corpus down to query-matching (doc, term) rows BEFORE the
idf/doclen joins, so at 100 TB only the touched slice of the inverted
index ever shuffles into the scoring joins. Candidate generation is an
equality join on ``term`` — never all-pairs.

Duplicate-heavy corpora (the round-7 weak mark): a pre-dedup crawl
duplicates documents AND probes simultaneously, so posting lists, the
matched slice, and the query count all grow together — measured n^~1.15
(4.9× time at 4× duplicated data). The plan therefore routes every
exact-duplicate group of at least H documents through one
representative (dedup._rep_groups): members of a group share an
identical tf vector and doc length, hence identical BM25 scores, so
the representative is scored ONCE, with document frequency / n_docs /
avgdl weighted by group multiplicity so the statistics still describe
the full corpus, and its score fans back out to member doc_ids for the
final top-k. An exact cumulative-multiplicity threshold prunes each
query's candidates before fan-out (keep a doc iff its score ties or
beats the score at cumulative member count k), so the fan-out join is
top-k-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint
from datamine_v2_0_spark.operators.dedup import (
    _cluster_pair_stream,
    _heavy_reps,
    _member_ids,
    _min_copies,
    _rep_groups,
    _spread,
    normalize_text,
)


def _tokens(df: DataFrame, text_col: str, id_col: str, out_id: str) -> DataFrame:
    """(out_id, term) posting rows; normalization shared with the
    dedup/tfidf family so fingerprints and indexes agree on tokenization."""
    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def _bm25_score(k1: float, b: float):
    """Per-posting BM25 contribution given tf/idf/dl/avgdl columns."""
    return (
        F.col("idf")
        * (F.col("tf") * (F.lit(k1) + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    query_text_col: str,
    query_id_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    duplicate_collapse: str = "auto",
) -> DataFrame:
    """Top-k BM25 documents per query: (query_id, doc_id, score, rank).

    ``queries`` is expected to be small relative to the corpus (probes,
    eval sets) and its term set is broadcast; ``docs`` is the 100 TB side.
    Scores are rounded to ``round_to`` decimals BEFORE ranking so ties
    break on ``doc_id`` identically across engines (same recipe as
    tfidf_top_terms).

    ``duplicate_collapse`` sets H, the group size from which an exact
    duplicate group of documents is scored through one representative
    with multiplicity-weighted corpus statistics (see the module
    docstring and dedup._rep_groups): "auto" H = dedup._MIN_COPIES,
    "always" 2, "never" no routing. Every H gives the same rows.
    Documents and probes with a NULL id take no part.

    Reference parity: the reference has no retrieval operator — this is
    part of the beyond-reference LLM-data surface (SURVEY.md §2 extension),
    built per Robertson et al., "Okapi at TREC-3" (1994).
    """
    docs, doc_members = _rep_groups(
        _spread(docs), text_col, id_col, _min_copies(duplicate_collapse)
    )
    # probes are few by contract, so they are scored as they come
    queries = queries.filter(F.col(query_id_col).isNotNull())
    heavy = None if doc_members is None else _heavy_reps(doc_members, "doc_id")

    def copies(df: DataFrame) -> DataFrame:
        """``df`` with ``__w``, the number of documents each routed doc
        stands for — its group size for a heavy representative, else 1."""
        if heavy is None:
            return df.withColumn("__w", F.lit(1))
        return df.join(heavy, "doc_id", "left").withColumn(
            "__w", F.coalesce("__cnt", F.lit(1))
        )

    # the TF table is the inverted index: dl, dfreq, corpus stats, and the
    # posting join all branch from it. Catalyst gets no exchange reuse
    # across those branches (different downstream groupings), so without
    # materialization the corpus scan+tokenize+TF shuffle runs 4x (plan-
    # audited: 5 scans, 0 ReusedExchange). Build the index ONCE.
    tf = iter_checkpoint(
        _tokens(docs, text_col, id_col, "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # doc length = sum of term frequencies; re-agg of tf, not a new scan.
    # Materialized because BOTH the corpus stats and the scoring join
    # consume it — unmaterialized, each consumer re-aggregates the full
    # posting table (plan-audited: two O(postings) passes for one
    # O(docs) relation).
    dl = iter_checkpoint(tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")))
    # each routed doc counts for its group, so n_docs / avgdl describe
    # the FULL corpus (exact: integer sums, one division)
    stats = copies(dl).agg(
        F.sum("__w").alias("n_docs"),
        (F.sum(F.col("dl") * F.col("__w")) / F.sum("__w")).alias("avgdl"),
    )
    # distinct query terms (BM25 query-side tf saturates to presence here)
    qterms = (
        _tokens(queries, query_text_col, query_id_col, "query_id").distinct()
    )
    terms = F.broadcast(qterms.select("term").distinct())
    # document frequency is only ever consumed for query-matching terms
    # (inner join on term downstream), so pre-filter the posting table
    # with the broadcast DISTINCT term set ONCE (no query fan-out yet):
    # the term shuffle carries the touched slice of the vocabulary, not
    # all of it. df per surviving term is counted over the FULL corpus —
    # result-exact.
    dfreq = (
        copies(tf.join(terms, "term"))
        .groupBy("term")
        .agg(F.sum("__w").alias("df"))
    )
    # the SCORING slice is additionally doc-clustered in the broadcast
    # regime (dedup._cluster_pair_stream): the (query_id, doc_id) score
    # aggregation below then needs NO exchange, because the per-query
    # fan-out join multiplies rows AFTER this shuffle — ~4 MB of matched
    # postings move instead of the 80 MiB / 2.6M-record per-term score
    # exchange measured at sf0.1. dfreq deliberately stays on the direct
    # tf probe: its term aggregation gains nothing from doc clustering,
    # and the branches' different column pruning defeats exchange reuse.
    pruned = _cluster_pair_stream(tf.join(terms, "term"), "doc_id")
    # one row per distinct query term: broadcast like the term set (the
    # weight join above leaves dfreq without a usable size estimate)
    idf = F.broadcast(
        dfreq.crossJoin(F.broadcast(stats)).select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
            "avgdl",
        )
    )
    # fan out per query AFTER the prune/cluster (see pruned above)
    matched = pruned.join(F.broadcast(qterms), "term")
    scored = (
        matched.join(idf, "term")
        .join(dl, "doc_id")
        .select("query_id", "doc_id", _bm25_score(k1, b).alias("score"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("score"), round_to).alias("score"))
    )
    if doc_members is not None:
        # exact per-query prune before the fan-out: a routed doc can only
        # reach the final top-k if its score ties or beats the score at
        # cumulative member count k (ties kept, so doc_id tiebreaks stay
        # exact). Both windows share one per-query partition — bounded,
        # never a global single-task window, and no self-join (that would
        # evaluate the whole scored subtree twice; plan-audited).
        w_rep = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.col("doc_id")
        )
        before = F.coalesce(
            F.sum("__w").over(w_rep.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        kth = F.min(F.when(F.col("__before") < k, F.col("score"))).over(
            Window.partitionBy("query_id")
        )
        scored = _member_ids(
            copies(scored)
            .withColumn("__before", before)
            .withColumn("__kth", kth)
            .filter(F.col("score") >= F.col("__kth")),
            doc_members, "doc_id",
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id").asc())
    return (
        scored.select("query_id", "doc_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    ranked: "list[DataFrame]",
    k: int = 10,
    c: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists into one hybrid
    top-k: score(d) = Σ_lists 1/(c + rank_d) (Cormack/Clarke/Büttcher
    RRF, the standard lexical+dense hybrid-retrieval merge). Each input
    holds (query_col, id_col, rank_col) with ranks from 1; a document
    missing from a list simply contributes nothing for it.

    The fusion is rank-only — scores from different retrievers never mix
    scales — and fully declarative: union the lists, one hash aggregate
    on (query, doc), one per-query top-k window. Each candidate list is
    already top-k-per-query sized, so the union is bounded by
    n_queries·k·n_lists regardless of corpus size.
    """
    if not ranked:
        raise ValueError("ranked lists must be non-empty")
    contribs = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col))).alias("__contrib"),
        )
        for r in ranked
    ]
    from datamine_v2_0_spark.operators.sets import union_all

    u = union_all(contribs)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("__contrib"), round_to).alias("rrf_score"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    round_to: int = 6,
) -> DataFrame:
    """Rank-quality metrics for a retrieval run: per query,
    ``ndcg`` @k (binary gains: DCG = sum 1/log2(rank+1) over relevant
    hits, IDCG = the same sum over the first min(k, n_rel) ideal
    ranks), ``mrr`` @k (1/rank of the first relevant hit), ``recall``
    @k, and ``n_rel`` (relevant-set size). The evaluation loop every
    retrieval/dedup/decontamination pipeline runs next to BM25/ANN —
    the ranked cousin of validation.overlap_recall.

    ``results``: ranked lists (query_col, doc_col, rank_col 1-based,
    deduplicated) — bm25_topk / *_topk output shape. ``qrels``: the
    relevant (query_col, doc_col) pairs (binary relevance; graded
    inputs should be thresholded by the caller). Queries appearing in
    only one input still get a row (metrics 0 when they retrieved
    nothing relevant or have an empty relevant set).

    Scale shape: one equi join of results@k against qrels on
    (query, doc), two partial-aggregatable groupBys, and a broadcast
    of per-query ideal mass; all pyspark.sql.functions — no UDFs, no
    per-query loop. nDCG uses binary gains so every term is
    1/log2(i+1): exact on any engine after round_to rounding (no 2^rel
    pow)."""
    r = results.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(doc_col).alias("__d"),
        F.col(rank_col).cast("int").alias("__r"),
    )
    q = qrels.select(
        F.col(query_col).alias("__q"), F.col(doc_col).alias("__d")
    ).distinct()
    # relevant-set size + ideal DCG mass per query: IDCG depends only
    # on min(k, n_rel), so it's a closed form over the count
    log2 = F.log2
    rel_stats = q.groupBy("__q").agg(F.count(F.lit(1)).alias("n_rel"))
    idcg = rel_stats.select(
        "__q",
        "n_rel",
        F.aggregate(
            F.sequence(F.lit(1), F.least(F.lit(k), F.col("n_rel"))),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / log2(i.cast("double") + 1.0),
        ).alias("__idcg"),
    )
    hits = r.join(q.withColumn("__rel", F.lit(1)), ["__q", "__d"], "left")
    per_q = hits.groupBy("__q").agg(
        F.sum(
            F.when(F.col("__rel") == 1, F.lit(1.0) / log2(F.col("__r") + 1.0))
            .otherwise(F.lit(0.0))
        ).alias("__dcg"),
        F.max(
            F.when(F.col("__rel") == 1, F.lit(1.0) / F.col("__r").cast("double"))
        ).alias("__mrr"),
        F.sum(F.when(F.col("__rel") == 1, 1).otherwise(0)).alias("__nhit"),
    )
    out = per_q.join(idcg, "__q", "full")
    return out.select(
        F.col("__q").alias(query_col),
        F.round(
            F.when(
                F.coalesce(F.col("__idcg"), F.lit(0.0)) > 0,
                F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"),
            ).otherwise(F.lit(0.0)),
            round_to,
        ).alias("ndcg"),
        F.round(F.coalesce(F.col("__mrr"), F.lit(0.0)), round_to).alias("mrr"),
        F.round(
            F.when(
                F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                F.coalesce(F.col("__nhit"), F.lit(0)).cast("double")
                / F.col("n_rel"),
            ).otherwise(F.lit(0.0)),
            round_to,
        ).alias("recall"),
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
    )
