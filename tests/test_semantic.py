"""SemDeDup (cluster-pruned semantic dedup) — operators/semantic.py.

Certification strategy: the contract query runs at n_iter=0 against an
exact SQL oracle (see queries/dedup.py); these tests cover what the
oracle can't — the Lloyd iteration path (numpy ground truth), the
pruning guarantee (within-cluster pairs ⊆ exact all-pairs), and the
keep-rule semantics.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import semantic as sem


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _np_assign(V, C, round_to=6):
    """Ground-truth assignment: argmax of rounded cosine, ties to the
    lowest cluster id (np.argmax takes the first maximum)."""
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    return np.argmax(np.round(Vn @ Cn.T, round_to), axis=1)


def test_assignment_matches_numpy(emb):
    V = np.array(
        [r[1] for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    cents = sem.seed_centroids_lowest_ids(emb, "embedding", "vec_id", 6)
    got = {
        r[0]: r[1]
        for r in sem.assign_to_centroids(emb, "embedding", cents)
        .select("vec_id", "cluster_id")
        .collect()
    }
    ids = sorted(got)
    want = _np_assign(V, np.stack(cents))
    assert [got[i] for i in ids] == list(want)


def test_lloyd_step_matches_numpy(emb):
    cents = sem.seed_centroids_lowest_ids(emb, "embedding", "vec_id", 4)
    assigned = sem.assign_to_centroids(emb, "embedding", cents)
    new = sem.lloyd_step(assigned, "embedding", cents)
    rows = assigned.select("cluster_id", "embedding").collect()
    V = np.array([r[1] for r in rows], dtype=np.float64)
    lab = np.array([r[0] for r in rows])
    for c in range(4):
        m = lab == c
        want = V[m].mean(axis=0) if m.any() else cents[c]
        assert np.allclose(new[c], want, atol=1e-9)


def test_lloyd_improves_intra_cluster_cosine(emb):
    """Two Lloyd iterations must not worsen the mean member→centroid
    cosine (k-means monotonicity, up to the rounded-argmax tiebreak)."""

    def mean_cos(n_iter):
        cents = sem.seed_centroids_lowest_ids(emb, "embedding", "vec_id", 6)
        for _ in range(n_iter):
            a = sem.assign_to_centroids(emb, "embedding", cents)
            cents = sem.lloyd_step(a, "embedding", cents)
        a = sem.assign_to_centroids(emb, "embedding", cents)
        from datamine_v2_0_spark.operators.similarity import cosine

        sims = []
        for i, c in enumerate(cents):
            sims.append(
                a.filter(F.col("cluster_id") == i)
                .select(cosine(F.col("embedding"), sem._centroid_lit(c)).alias("s"))
            )
        u = sims[0]
        for s in sims[1:]:
            u = u.unionAll(s)
        return u.agg(F.avg("s")).first()[0]

    assert mean_cos(2) >= mean_cos(0) - 1e-9


def test_pairs_subset_of_exact_and_found_within_cluster(emb):
    """Cluster pruning never invents pairs: every within-cluster pair is
    in the exact all-pairs set at the same threshold, and every emitted
    pair is co-clustered."""
    from datamine_v2_0_spark.operators import dedup as dd

    got = sem.semantic_neardup_pairs(
        emb, "embedding", "vec_id", n_clusters=5, threshold=0.3, n_iter=1
    )
    exact = dd.embedding_neardup_pairs(
        emb, "embedding", "vec_id", dim=64, threshold=0.3, exact=True
    )
    g = {(r.id_a, r.id_b, r.cos_sim) for r in got.collect()}
    e = {(r.id_a, r.id_b, r.cos_sim) for r in exact.collect()}
    assert g <= e
    assert len(g) > 0


def test_assignment_plan_has_no_exchange(emb):
    """The centroid argmax is a pure projection: inlined literals, no
    join, no shuffle in the assignment subplan."""
    cents = sem.seed_centroids_lowest_ids(emb, "embedding", "vec_id", 4)
    plan = sem.assign_to_centroids(emb, "embedding", cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_decontaminate_by_embedding_planted(spark, emb):
    """A train vector equal to an eval vector (times a positive scale)
    must be flagged with cos 1.0 against that eval id."""
    import pandas as pd
    from pyspark.sql import functions as F

    eval_df = emb.orderBy("vec_id").limit(5)
    ev0 = eval_df.first()
    planted = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [999999],
             "embedding": [[2.0 * float(x) for x in ev0.embedding]],
             "label": [0]}
        )
    )
    train = emb.join(eval_df.select("vec_id"), "vec_id", "left_anti").unionByName(
        planted.withColumn("embedding", F.col("embedding").cast("array<float>"))
    )
    out = {
        r.vec_id: (r.eval_id, r.cos_sim)
        for r in sem.decontaminate_by_embedding(
            train, eval_df, "embedding", "vec_id", 0.9
        ).collect()
    }
    assert out[999999][0] == ev0.vec_id
    assert out[999999][1] == 1.0


def test_decontaminate_max_eval_guard(spark, emb):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_eval"):
        sem.decontaminate_by_embedding(
            emb, emb, "embedding", "vec_id", 0.9, max_eval=10
        )


def test_decontaminate_plan_has_no_shuffle(spark, emb):
    eval_df = emb.orderBy("vec_id").limit(5)
    out = sem.decontaminate_by_embedding(
        emb, eval_df, "embedding", "vec_id", 0.35
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_many_singleton_clusters_share_one_task(spark):
    """Regression: with shuffle.partitions=1 every cluster's group is
    handled by ONE applyInPandas task. Round-4 code mutated a shared
    empty frame in place (pandas .insert), so the second degenerate
    cluster in a task raised ValueError('cannot insert cluster_id')."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 24
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(n)),
            "embedding": [rng.normal(size=8).tolist() for _ in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        # n_clusters == n rows → every cluster is (at most) a singleton,
        # all co-located in the single shuffle partition
        pairs = sem.semantic_neardup_pairs(
            df, "embedding", "vec_id", n_clusters=n, threshold=0.99
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert pairs == []
