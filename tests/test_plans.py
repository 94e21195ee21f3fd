"""Plan-shape assertions: the scale contract of the flagship queries.

These encode "would this survive 100×": filters reach the scan, small
dims broadcast, window stacks share exchanges, projections prune columns.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from datamine_v2_0_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    python_eval_nodes,
    read_schema,
)

SF = "/root/testdata/sf0.001"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata absent"
)


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30.0).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert any("l_quantity" in f for f in pf), pf
    rs = read_schema(q)
    assert set(rs) == {"l_orderkey", "l_quantity"}, rs


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    j = li.join(o, "l_orderkey")
    assert has_broadcast_join(j)


def test_flagship_revenue_plan(spark):
    from datamine_v2_0_spark.contract import QUERIES

    df = QUERIES["join_equi_revenue"][0](spark, SF)
    # joins broadcast (dims are small), so shuffles = final groupBy only
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 2
    # the relational hot path must never cross into Python
    assert python_eval_nodes(df) == 0


def test_window_stack_shares_exchange(spark):
    from datamine_v2_0_spark.contract import QUERIES

    df = QUERIES["win_rolling"][0](spark, SF)
    # one window partitioning -> exactly one shuffle
    assert count_exchanges(df) == 1


def test_candidate_generation_never_all_pairs(spark):
    """LSH / inverted-index candidate generation must be equi-join
    shaped — an accidental cross product is the one failure mode that
    cannot survive any scale-up."""
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.plans import has_cartesian

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    assert not has_cartesian(
        dd.minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=32, bands=8)
    )
    assert not has_cartesian(
        dd.jaccard_pairs_inverted(docs, "text", "doc_id", threshold=0.2)
    )
    assert not has_cartesian(
        dd.embedding_neardup_pairs(emb, "embedding", "vec_id", dim=64,
                                   threshold=0.35, num_planes=32, bands=16)
    )
    assert not has_cartesian(
        dd.simhash_candidates(docs, "text", "doc_id", max_hamming=3)
    )
    # ... and the exact baseline IS all-pairs, so the inspector itself
    # is exercised in both directions
    assert has_cartesian(
        dd.embedding_neardup_pairs(emb, "embedding", "vec_id", dim=64,
                                   threshold=0.35, exact=True)
    )


def test_group_resolution_plans_stay_equi_join(spark):
    """A connected-components hop and the pruned Jaccard verify must
    remain equi-join shaped — the iterative propagation must never
    degenerate to a cross product."""
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.plans import has_cartesian
    from pyspark.sql import functions as F

    # un-checkpointed frames keep the hop's join IN the plan;
    # connected_components itself returns a scan of its last checkpoint,
    # where the assertion would be vacuous
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)],
        "src long, dst long",
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    assert not has_cartesian(dd._cc_hop(edges, labels))

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cands = dd.minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=32, bands=8
    )
    assert not has_cartesian(
        dd.ngram_jaccard_pairs(cands, docs, "text", "doc_id", threshold=0.2)
    )


def _joins(df) -> list[str]:
    """The Join nodes of ``df``'s optimized logical plan, one line each."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if re.search(r"\bJoin [A-Z]", ln)]


def test_dedup_groups_plans_the_pair_graph_once(spark, monkeypatch):
    """dedup_groups' edge set reads the Jaccard pairs once: one posting
    self-join (the join on ``__s``), however many relations the star
    edges and the symmetrized edge set derive from it. The first label
    block joins once, for its second hop; the first hop is an aggregate
    of the edge set, shuffled once and reused by both of the second
    hop's reads of it. The second hop's join stays a shuffled hash
    join: AQE would otherwise broadcast whichever side's shuffle
    finished first, so the plan, and the row order it writes, changed
    from run to run."""
    from datamine_v2_0_spark.operators import dedup as dd

    cuts = []
    real = dd.iter_checkpoint

    def spy(df):
        cuts.append(df)
        return real(df)

    monkeypatch.setattr(dd, "iter_checkpoint", spy)
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, base) for i in range(dd._MIN_COPIES + 2)]
    rows += [(100, base + " bank"), (101, "a b c d e f g h"), (102, "a b c d e f g x")]
    rows += [(200 + i, f"solo{i} alpha{i} beta{i} gamma{i}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, members = dd._jaccard_pairs_core(docs, "text", "doc_id", threshold=0.2)
    assert members is not None
    groups = dd.dedup_groups(docs, "doc_id", dd._star_edges(pairs, members))
    got = {r.doc_id: r.group_id for r in groups.collect()}
    assert got[100] == got[dd._MIN_COPIES + 1] == 0 and got[102] == 101

    edge_set = next(df for df in cuts if df.columns == ["src", "dst"])
    posting = [j for j in _joins(edge_set) if re.search(r"__s#\d+ = __s#\d+", j)]
    assert len(posting) == 1, _joins(edge_set)
    first_block = next(df for df in cuts if "old_comp" in df.columns)
    assert len(_joins(first_block)) == 1, _joins(first_block)
    final = first_block._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final
    assert "ShuffledHashJoin" in final and "BroadcastHashJoin" not in final, final


def test_corpus_curation_plans(spark):
    """The r3 curation operators' scale contracts: decontamination joins
    the eval gram set broadcast (train grams never shuffle), unit removal
    and budget sampling never form a cross product beyond the intentional
    1-row aggregate broadcasts, and the LSH candidate stages contain NO
    join at all (in-bucket pair expansion replaced the banded self-join,
    halving signature computation)."""
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.operators import filters as flt
    from datamine_v2_0_spark.operators import text as tx
    from datamine_v2_0_spark.plans import has_broadcast_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    ev = docs.filter(F.col("doc_id") % 29 == 0)
    tr = docs.filter(F.col("doc_id") % 29 != 0)
    dec = tx.decontaminate(tr, ev, "text", "doc_id", n=4)
    assert has_broadcast_join(dec)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan

    rm = dd.remove_common_units(
        docs, "text", "doc_id", min_doc_frac=0.6, delim=r"\s+", joiner=" "
    )
    rm_plan = rm._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in rm_plan

    tok = docs.select(
        "doc_id", "source", tx.token_count_ws(F.col("text")).alias("n")
    )
    tb = flt.sample_to_token_budget(tok, "source", "n", "doc_id", budget=500)
    assert "CartesianProduct" not in (
        tb._jdf.queryExecution().executedPlan().toString()
    )

    # the rebuilt LSH candidate stages are join-free aggregate pipelines
    for cand in (
        dd.minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=32, bands=8),
        dd.simhash_candidates(docs, "text", "doc_id", max_hamming=3),
    ):
        p = cand._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in p, p


def test_gopher_gate_is_exchange_free(spark):
    """The quality gate is a pure projection over the scan: zero
    exchanges, zero Python eval nodes — the property that lets a 100 TB
    filter pass run at scan speed ahead of any shuffle-paying stage."""
    from datamine_v2_0_spark.operators import text as tx
    from datamine_v2_0_spark.plans import count_exchanges, python_eval_nodes

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    gate = tx.gopher_gate(docs, "text", "doc_id", min_words=10)
    assert count_exchanges(gate) == 0
    assert python_eval_nodes(gate) == 0


def test_curation_pipeline_plan(spark):
    """End-to-end curation stays on the scale contract: no cartesian
    product anywhere, the decontamination gram join broadcasts, and no
    Python eval node appears (the whole chain is JVM codegen)."""
    from datamine_v2_0_spark.pipeline.curation import curate_corpus
    from datamine_v2_0_spark.plans import has_cartesian, python_eval_nodes

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    tr = docs.filter(F.col("doc_id") % 29 != 0)
    out = curate_corpus(tr, ev, "text", "doc_id", min_stopwords=1)
    assert not has_cartesian(out)
    assert python_eval_nodes(out) == 0
    assert "BroadcastHashJoin" in (
        out._jdf.queryExecution().executedPlan().toString()
    )


def test_curation_barrier_single_prefix(spark, tmp_path):
    """barrier='checkpoint' materializes the scan→gate→dedup prefix
    once: the decontamination anti join's two branches both read the
    checkpointed RDD, so the train parquet scan disappears from the
    final plan entirely (it ran once, inside the checkpoint job). The
    default (barrier=None) plan scans the train source twice — the
    documented caveat the barrier exists to remove. Both modes and the
    'table' barrier must return identical rows."""
    from datamine_v2_0_spark.pipeline.curation import curate_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    tr = docs.filter(F.col("doc_id") % 29 != 0)

    lazy = curate_corpus(tr, ev, "text", "doc_id", min_stopwords=1)
    lazy_plan = lazy._jdf.queryExecution().executedPlan().toString()
    # eval side scans documents once; the doubled prefix makes 3 total
    assert lazy_plan.count("Scan parquet") == 3

    ck = curate_corpus(
        tr, ev, "text", "doc_id", min_stopwords=1, barrier="checkpoint"
    )
    ck_plan = ck._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in ck_plan
    # only the eval-set branch still reads parquet
    assert ck_plan.count("Scan parquet") == 1

    expect = {tuple(r) for r in lazy.collect()}
    assert {tuple(r) for r in ck.collect()} == expect

    tbl = curate_corpus(
        tr, ev, "text", "doc_id", min_stopwords=1,
        barrier="table", staging_path=str(tmp_path / "staged"),
    )
    assert {tuple(r) for r in tbl.collect()} == expect

    import pytest as _pytest

    with _pytest.raises(ValueError, match="staging_path"):
        curate_corpus(tr, ev, "text", "doc_id", barrier="table")
    with _pytest.raises(ValueError, match="barrier"):
        curate_corpus(tr, ev, "text", "doc_id", barrier="persist")


def test_pair_stream_clustering_removes_pair_exchange(spark):
    """In the broadcast regime the posting self-join's stream side is
    hash-partitioned by doc id (_cluster_pair_stream), so the pair
    aggregation runs exchange-free: HashPartitioning(id_a) satisfies
    ClusteredDistribution([id_a, id_b, ...]). The only shuffle keyed on
    the pair columns would be the old 69-MiB-at-sf0.1 pair exchange —
    assert it is gone, and that results are identical to the
    no-broadcast (SMJ) regime where the clustering must not fire."""
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.plans import executed_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dd.jaccard_pairs_inverted(docs, "text", "doc_id", threshold=0.2)
    plan = executed_plan(pairs)
    # the stream-side repartition is the ONLY hashpartitioning exchange,
    # keyed on the doc id — no exchange keyed on the pair alias columns
    assert "Exchange hashpartitioning(doc_id" in plan, plan
    assert "REPARTITION_BY_COL" in plan, plan
    assert "Exchange hashpartitioning(id_a" not in plan, plan
    expect = {tuple(r) for r in pairs.collect()}

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        smj_pairs = dd.jaccard_pairs_inverted(
            docs, "text", "doc_id", threshold=0.2
        )
        smj_plan = executed_plan(smj_pairs)
        # no broadcast -> the gate must not add its doc-keyed
        # repartition (the duplicate routing's anti join on doc_id
        # shuffles in this regime too, as a join requirement)
        assert "REPARTITION_BY_COL" not in smj_plan, smj_plan
        assert {tuple(r) for r in smj_pairs.collect()} == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    cont = dd.containment_pairs_inverted(docs, "text", "doc_id", threshold=0.3)
    cplan = executed_plan(cont)
    assert "Exchange hashpartitioning(id_a" not in cplan, cplan


def test_broadcast_threshold_bytes_parsing(spark, monkeypatch):
    from datamine_v2_0_spark.operators import aggregates as agg
    from datamine_v2_0_spark.operators.dedup import _broadcast_threshold_bytes

    # SPARK_PCT_SORT_MAX_BYTES takes the same suffixed sizes: 256m keeps
    # a small input on the sort layout, 0 forces the two-pass layout,
    # and a malformed value fails loudly, naming the variable
    df = spark.range(4).select(F.lit("a").alias("g"), F.col("id").cast("double").alias("v"))

    def two_pass_picked() -> bool:
        out = agg.exact_percentiles_sorted(df, ["g"], "v", (0.5,))
        return "__lo" in out._jdf.queryExecution().analyzed().toString()

    for raw, want in [("256m", False), ("256MB", False), ("0", True)]:
        monkeypatch.setenv("SPARK_PCT_SORT_MAX_BYTES", raw)
        assert two_pass_picked() == want, raw
    monkeypatch.setenv("SPARK_PCT_SORT_MAX_BYTES", "lots")
    with pytest.raises(ValueError, match="SPARK_PCT_SORT_MAX_BYTES"):
        two_pass_picked()

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for raw, want in [
            ("10485760", 10485760),
            ("10MB", 10 * 1024 * 1024),
            ("64m", 64 * 1024 * 1024),
            ("1g", 1 << 30),
            ("512k", 512 * 1024),
            ("123b", 123),
            ("-1", 0),
        ]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            assert _broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
