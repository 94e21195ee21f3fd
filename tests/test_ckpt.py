"""The library's one lineage cut (operators/ckpt.iter_checkpoint).

Lint: no other module cuts lineage itself, the cut takes no option, and
no operator carries a ``reliable`` flag — durability comes from the
session's checkpoint directory. Budget: the cuts and the DataFrame
actions each registry query issues while it is built are pinned, so
every build-time job is documented here.
"""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "datamine_v2_0_spark"
CKPT = PKG / "operators" / "ckpt.py"
_CUT_CALL = re.compile(r"\.(?:localCheckpoint|checkpoint)\(")


def test_only_ckpt_module_cuts_lineage():
    hits = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p != CKPT
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _CUT_CALL.search(line)
    ]
    assert not hits, f"lineage cut outside operators/ckpt.py: {hits}"


def test_iter_checkpoint_takes_no_option():
    from datamine_v2_0_spark.operators.ckpt import iter_checkpoint

    assert list(inspect.signature(iter_checkpoint).parameters) == ["df"]


def test_no_function_has_a_reliable_parameter():
    hits = []
    for p in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "reliable" in names:
                    hits.append(f"{p.relative_to(PKG)}:{node.name}")
    assert not hits, f"functions with a reliable= flag: {hits}"


class _Session:
    """Stands in for a Spark Connect session: no SparkContext."""

    def __init__(self, conf):
        self.conf = conf

    @property
    def sparkContext(self):
        # what a Spark Connect session raises (PySparkAttributeError)
        raise AttributeError("sparkContext")


def test_checkpoint_dir_from_conf_without_spark_context():
    from datamine_v2_0_spark.operators.ckpt import _checkpoint_dir

    assert _checkpoint_dir(_Session({})) is None
    got = _checkpoint_dir(_Session({"spark.checkpoint.dir": "/ck"}))
    assert got == "/ck"


def test_cut_is_eager_and_durable_only_with_a_checkpoint_dir(
    spark, durable_checkpoints
):
    from datamine_v2_0_spark.operators.ckpt import iter_checkpoint

    sc = spark.sparkContext
    sc.setJobGroup("test_ckpt_eager", "eager cut")
    try:
        local = iter_checkpoint(spark.range(10))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # eager: the cut ran its job before any action on the result
    assert sc.statusTracker().getJobIdsForGroup("test_ckpt_eager")
    assert sc.getCheckpointDir() is None
    with durable_checkpoints() as ckpt:
        durable = iter_checkpoint(spark.range(10))
        assert any(ckpt.rglob("*")), "no durable checkpoint was written"
    assert sc.getCheckpointDir() is None
    assert local.count() == durable.count() == 10


# Actions each registry query issues while it is BUILT, i.e. during
# fn(spark, sf) at sf0.001 with the memo caches cleared: lineage cuts
# (iter_checkpoint: one eager job each) and DataFrame actions (first,
# take, collect, count, toPandas), an action that another one issues
# internally (first -> take -> collect) counted once. A query not listed
# issues none. Edit this table when a count moves, in either direction,
# and say why in CHANGES.md.
_ACTIONS = {
    "agg_fraction": {"cut": 1},  # grouped counts read twice
    "agg_mannwhitney": {"cut": 2},  # _dist_prefix_sums: input + buckets
    "agg_tdigest": {"count": 1},  # non-null values size the centroid cap
    "dedup_against": {"cut": 3},  # member map per side + cross-side candidates
    "dedup_canonical": {"cut": 4},  # member map + posting table + CC edges + one CC block
    "dedup_containment": {"cut": 2},  # member map + posting table
    "dedup_embedding": {"cut": 1},  # member map
    "dedup_groups": {"cut": 4},  # member map + posting table + CC edges + one CC block
    "dedup_jaccard": {"cut": 2},  # member map + LSH candidates
    "dedup_jaccard_inverted": {"cut": 2},  # member map + posting table
    "dedup_minhash_lsh": {"cut": 2},  # member map + LSH candidates
    "dedup_semantic": {"collect": 1},  # initial k-means centroids
    "dedup_substring": {"cut": 1},  # k-gram posting table
    "dedup_substring_strip": {"cut": 1},  # k-gram posting table
    "graph_pagerank": {"cut": 4},  # edges, nodes, edge+degree, ranks at iter 3
    "join_bloom": {"collect": 1},  # bloom-filter words of the build keys
    "scalar_quantile_bins": {"cut": 2},  # _dist_prefix_sums: input + buckets
    "sim_ivf_topk": {"collect": 1, "take": 1},  # cell-count probe + centroid sample
    "sim_pq_topk": {"collect": 2, "count": 1, "take": 1},  # rerank depth, codebook sample, query bound + rows
    "stat_auc": {"cut": 2},  # _dist_prefix_sums: input + buckets
    "stat_chi2": {"cut": 1},  # observed cells
    "stat_kappa": {"cut": 1},  # label-pair cells
    "stat_ks": {"cut": 2},  # _dist_prefix_sums: input + buckets
    "text_bm25": {"cut": 3},  # member map + BM25 TF index + doc lengths
    "text_bpe": {"collect": 1},  # word frequencies for merge training
    "text_decontaminate_embed": {"collect": 1, "count": 1},  # eval-set size + vectors
    "text_lm_bigram": {"cut": 1},  # bigram counts
    "text_retrieval_eval": {"cut": 3},  # member map + BM25 TF index + doc lengths
    "text_rrf": {"cut": 3},  # member map + BM25 TF index + doc lengths
    "text_tfidf": {"cut": 1},  # TF index
    "val_candidate_clustering": {"count": 1, "cut": 1},  # candidate total; truth windows with stable __wid
}

# DataFrame methods counted, by the name the table uses
_COUNTED = {
    "localCheckpoint": "cut", "checkpoint": "cut", "first": "first",
    "take": "take", "collect": "collect", "count": "count",
    "toPandas": "toPandas",
}


def build_time_actions(spark, sf_dir, patch) -> dict:
    """{query: {action: n}} for every registry query that issues an
    action while it is built; ``patch(obj, name, value)`` installs the
    counting wrappers (pytest's monkeypatch.setattr)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from datamine_v2_0_spark.contract import QUERIES
    from datamine_v2_0_spark.queries import dedup as qd

    seen: list[str] = []
    depth = [0]
    for meth, kind in _COUNTED.items():
        real = getattr(ClassicDataFrame, meth)

        def counting(self, *args, _real=real, _kind=kind, **kwargs):
            if depth[0] == 0:
                seen.append(_kind)
            depth[0] += 1
            try:
                return _real(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        patch(ClassicDataFrame, meth, counting)
    got = {}
    try:
        for name, (fn, _sql) in QUERIES.items():
            qd.clear_groups_cache()
            del seen[:]
            fn(spark, sf_dir)
            if seen:
                got[name] = {k: seen.count(k) for k in sorted(set(seen))}
    finally:
        qd.clear_groups_cache()
    return got


def test_build_time_cut_budget(spark, sf_dir, monkeypatch):
    from datamine_v2_0_spark.contract import QUERIES

    if not Path(sf_dir).exists():
        pytest.skip(f"no test data at {sf_dir}")
    assert set(_ACTIONS) <= set(QUERIES), set(_ACTIONS) - set(QUERIES)
    assert build_time_actions(spark, sf_dir, monkeypatch.setattr) == _ACTIONS
