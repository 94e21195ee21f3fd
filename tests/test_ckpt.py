"""The library's one lineage cut (operators/ckpt.iter_checkpoint).

Lint: no other module cuts lineage itself, the cut takes no option, and
no operator carries a ``reliable`` flag — durability comes from the
session's checkpoint directory. Budget: the number of cuts each registry
query makes while it is built is pinned, so every build-time job a cut
launches is documented here.
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


# Cuts (iter_checkpoint calls) made while each registry query is BUILT,
# i.e. during fn(spark, sf) at sf0.001 with the memo caches cleared.
# Every cut is one eager job before the DataFrame exists; a query not
# listed makes none. Edit this table when a count moves, in either
# direction, and say why in CHANGES.md.
_CUTS = {
    "agg_fraction": 1,  # grouped counts read twice
    "agg_mannwhitney": 2,  # _dist_prefix_sums: input + buckets
    "dedup_against": 1,  # cross-side candidates
    "dedup_canonical": 3,  # posting table + CC edges + one CC block
    "dedup_containment": 1,  # posting table
    "dedup_groups": 3,  # posting table + CC edges + one CC block
    "dedup_jaccard": 1,  # LSH candidates
    "dedup_jaccard_inverted": 1,  # posting table
    "dedup_minhash_lsh": 1,  # LSH candidates
    "dedup_substring": 1,  # k-gram posting table
    "dedup_substring_strip": 1,  # k-gram posting table
    "graph_pagerank": 4,  # edges, nodes, edge+degree, ranks at iter 3
    "scalar_quantile_bins": 2,  # _dist_prefix_sums: input + buckets
    "stat_auc": 2,  # _dist_prefix_sums: input + buckets
    "stat_chi2": 1,  # observed cells
    "stat_kappa": 1,  # label-pair cells
    "stat_ks": 2,  # _dist_prefix_sums: input + buckets
    "text_bm25": 2,  # BM25 TF index + doc lengths
    "text_lm_bigram": 1,  # bigram counts
    "text_retrieval_eval": 2,  # BM25 TF index + doc lengths
    "text_rrf": 2,  # BM25 TF index + doc lengths
    "text_tfidf": 1,  # TF index
    "val_candidate_clustering": 1,  # truth windows with stable __wid
}


def test_build_time_cut_budget(spark, sf_dir, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from datamine_v2_0_spark.contract import QUERIES
    from datamine_v2_0_spark.operators import dedup as dd
    from datamine_v2_0_spark.queries import dedup as qd

    if not Path(sf_dir).exists():
        pytest.skip(f"no test data at {sf_dir}")
    assert set(_CUTS) <= set(QUERIES), set(_CUTS) - set(QUERIES)
    cuts = [0]
    for meth in ("localCheckpoint", "checkpoint"):
        real = getattr(ClassicDataFrame, meth)

        def counting(self, *args, _real=real, **kwargs):
            cuts[0] += 1
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(ClassicDataFrame, meth, counting)
    got = {}
    try:
        for name, (fn, _sql) in QUERIES.items():
            qd.clear_groups_cache()
            dd.clear_dup_stats_cache()
            before = cuts[0]
            fn(spark, sf_dir)
            if cuts[0] != before:
                got[name] = cuts[0] - before
    finally:
        qd.clear_groups_cache()
    assert got == _CUTS
