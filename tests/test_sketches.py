"""Misra–Gries heavy hitters + t-digest quantiles — operators/sketches.py."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import sketches as sk


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


def test_heavy_hitters_exact_at_full_capacity(spark, events):
    got = sk.heavy_hitters(events, "user_id", k=10, capacity=100000).collect()
    want = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "user_id")
        .limit(10)
        .collect()
    )
    assert [(r.user_id, r.est_count) for r in got] == [
        (r.user_id, r.c) for r in want
    ]
    assert all(r.err_ub == 0 for r in got)


def test_heavy_hitters_bounds_under_pressure(spark):
    """Capacity ≪ distinct: lower bound + error bound bracket the true
    count, and any key above the error bound is guaranteed present."""
    pdf = pd.DataFrame(
        {"k": ["hot"] * 5000 + ["warm"] * 800 + [f"u{i}" for i in range(3000)]}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    rows = sk.heavy_hitters(df, "k", k=5, capacity=40).collect()
    by_key = {r.k: r for r in rows}
    err = rows[0].err_ub
    assert err > 0
    assert "hot" in by_key  # true count 5000 > any possible err here
    assert by_key["hot"].est_count <= 5000 <= by_key["hot"].est_count + err
    if "warm" in by_key:
        assert by_key["warm"].est_count <= 800 <= by_key["warm"].est_count + err


def test_heavy_hitters_null_keys_ignored(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", None, "b", None]})
    )
    rows = sk.heavy_hitters(df, "k", k=5, capacity=100).collect()
    assert {(r.k, r.est_count) for r in rows} == {("a", 2), ("b", 1)}


def test_tdigest_quantile_accuracy(spark, events):
    """Merged digest p50/p95/p99 land within 1% RANK error of the exact
    values (the t-digest guarantee is on rank, not value)."""
    ev = events.withColumn("d", F.to_date("ts"))
    td = sk.grouped_tdigest(ev, ["d"], "value", max_centroids=100)
    got = sk.merge_tdigests(td, [], [0.5, 0.95, 0.99]).first()
    vals = np.sort(
        np.array([r[0] for r in events.select("value").collect()], dtype=float)
    )
    n = len(vals)
    for q, col in [(0.5, "q_0_5"), (0.95, "q_0_95"), (0.99, "q_0_99")]:
        est = got[col]
        rank = np.searchsorted(vals, est) / n
        assert abs(rank - q) < 0.01, (q, est, rank)
    assert got["n"] == n


def test_tdigest_merge_equals_direct(spark, events):
    """Digest-of-digests ≈ digest-of-all: merged p95 within 0.5% rank of
    a single direct digest over the same data."""
    ev = events.withColumn("d", F.to_date("ts"))
    merged = sk.merge_tdigests(
        sk.grouped_tdigest(ev, ["d"], "value", 100), [], [0.95]
    ).first()["q_0_95"]
    direct_cent = sk.tdigest_sketch(
        np.array([r[0] for r in events.select("value").collect()], dtype=float),
        100,
    )
    direct = sk.tdigest_quantile(direct_cent, 0.95)
    vals = np.sort(
        np.array([r[0] for r in events.select("value").collect()], dtype=float)
    )
    r1 = np.searchsorted(vals, merged) / len(vals)
    r2 = np.searchsorted(vals, direct) / len(vals)
    assert abs(r1 - r2) < 0.005


def test_tdigest_grouped_rollup_keys(spark, events):
    """Rolling day digests up to a coarser key keeps counts additive."""
    ev = events.withColumn("d", F.to_date("ts")).withColumn(
        "m", F.trunc("ts", "month")
    )
    td = sk.grouped_tdigest(
        ev.select("d", "m", "value"), ["m", "d"], "value", 100
    )
    up = sk.merge_tdigests(td, ["m"], [0.5])
    got = {r.m: r.n for r in up.collect()}
    want = {
        r.m: r.c
        for r in ev.groupBy("m").agg(F.count("value").alias("c")).collect()
    }
    assert got == want


def test_tdigest_bounded_size(spark):
    v = np.random.RandomState(7).normal(size=50000)
    cent = sk.tdigest_sketch(v, max_centroids=100)
    assert len(cent) <= 120  # delta=100 digests stay ~delta centroids
    assert np.isclose(cent[:, 1].sum(), 50000)


def test_tdigest_merge_free_at_certified_capacity():
    """The oracle-certified operating point: with delta >= pi*n/2 the
    k-scale condition delta*2/(pi*n) > 1 holds for every adjacent
    singleton pair, so no merge ever fires and the digest IS the sorted
    value array (the basis of the agg_tdigest SQL oracle)."""
    rng = np.random.default_rng(0)
    v = rng.normal(size=1000)
    cent = sk.tdigest_sketch(v, max_centroids=2000)
    assert len(cent) == 1000
    assert np.array_equal(cent[:, 0], np.sort(v))
    assert (cent[:, 1] == 1.0).all()


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def _exact_counts(events, key="user_id"):
    return {
        r[key]: r.c
        for r in events.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }


def test_cms_overestimates_never_under(spark, events):
    # width 16 << distinct keys: collisions are guaranteed, every
    # estimate must still be >= the true count (the CMS one-sided bound)
    sketch = sk.cms_sketch(events, "user_id", depth=3, width=16)
    keys = events.select("user_id").distinct()
    est = {
        r.user_id: r.est
        for r in sk.cms_estimate(sketch, keys, "user_id", depth=3, width=16).collect()
    }
    exact = _exact_counts(events)
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    assert any(est[k] > exact[k] for k in exact)  # collisions really occurred


def test_cms_exact_when_collision_free(spark, events):
    # huge width: if a key's THREE cells are touched by no other key in
    # at least one row, its estimate is exactly its count; verify the
    # implication per key by recomputing cell occupancy driver-side
    depth, width = 3, 1 << 20
    sketch = sk.cms_sketch(events, "user_id", depth=depth, width=width)
    keys = events.select("user_id").distinct()
    est = {
        r.user_id: r.est
        for r in sk.cms_estimate(
            sketch, keys, "user_id", depth=depth, width=width
        ).collect()
    }
    exact = _exact_counts(events)
    import hashlib

    cell_keys: dict = {}
    for k in exact:
        for j in range(depth):
            h = int(hashlib.md5(f"{j}:{k}".encode()).hexdigest()[:15], 16)
            cell_keys.setdefault((j, h % width), set()).add(k)
    for k, c in exact.items():
        alone = any(
            cell_keys[
                (j, int(hashlib.md5(f"{j}:{k}".encode()).hexdigest()[:15], 16) % width)
            ]
            == {k}
            for j in range(depth)
        )
        if alone:
            assert est[k] == c, k
        else:
            assert est[k] >= c, k


def test_cms_merge_equals_direct(spark, events):
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    merged = sk.cms_merge(
        sk.cms_sketch(half_a, "user_id", depth=3, width=64),
        sk.cms_sketch(half_b, "user_id", depth=3, width=64),
    )
    direct = sk.cms_sketch(events, "user_id", depth=3, width=64)
    as_dict = lambda df: {(r.row, r.cell): r.total for r in df.collect()}
    assert as_dict(merged) == as_dict(direct)


def test_cms_weighted_and_fast_path(spark, events):
    ev = events.withColumn("w", (F.col("event_id") % 5 + 1).cast("long"))
    sketch = sk.cms_sketch(ev, "user_id", depth=3, width=32, weight_col="w")
    total = sketch.filter(F.col("row") == 0).agg(F.sum("total")).collect()[0][0]
    want = ev.agg(F.sum("w")).collect()[0][0]
    assert total == want  # row 0 cells partition the total weight
    exact = {
        r.user_id: r.s
        for r in ev.groupBy("user_id").agg(F.sum("w").alias("s")).collect()
    }
    est = {
        r.user_id: r.est
        for r in sk.cms_estimate(
            sketch, ev.select("user_id").distinct(), "user_id", depth=3, width=32
        ).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)


def test_cms_weight_preconditions(spark):
    # Round-11 ADVICE: negative weights would silently break the
    # one-sided overcount guarantee (undercounts with no error) — now a
    # row-side raise; NULL-weight rows are filtered explicitly and the
    # sketch total matches the non-NULL weight mass.
    import pytest

    df = spark.createDataFrame(
        [("a", 3), ("b", -1), ("c", 2)], "k string, w long"
    )
    with pytest.raises(Exception, match="negative weight"):
        sk.cms_sketch(df, "k", depth=2, width=16, weight_col="w").collect()
    with_null = spark.createDataFrame(
        [("a", 3), ("b", None), ("c", 2)], "k string, w long"
    )
    sketch = sk.cms_sketch(with_null, "k", depth=2, width=16, weight_col="w")
    total = sketch.filter(F.col("row") == 0).agg(F.sum("total")).collect()[0][0]
    assert total == 5  # 3 + 2; the NULL-weight row contributes nothing
    # zero weights are allowed (guarantee holds trivially)
    zeros = spark.createDataFrame([("a", 0), ("b", 4)], "k string, w long")
    z = sk.cms_sketch(zeros, "k", depth=2, width=16, weight_col="w")
    assert z.filter(F.col("row") == 0).agg(F.sum("total")).collect()[0][0] == 4


def test_cms_unseen_key_and_bounds(spark, events):
    depth, width = 4, 1 << 18
    sketch = sk.cms_sketch(events, "user_id", depth=depth, width=width)
    assert sketch.count() <= depth * width
    unseen = spark.createDataFrame([(987654321012345,)], "user_id long")
    got = sk.cms_estimate(sketch, unseen, "user_id", depth=depth, width=width).collect()
    # at 2^18 cells vs ~150 keys the 4 probe cells are overwhelmingly
    # untouched; est must then be exactly 0 (left join -> coalesce 0)
    assert got[0].est == 0


def test_cms_empty_input(spark):
    empty = spark.createDataFrame([], "user_id long")
    sketch = sk.cms_sketch(empty, "user_id", depth=3, width=64)
    assert sketch.count() == 0
    est = sk.cms_estimate(sketch, empty, "user_id", depth=3, width=64)
    assert est.count() == 0


def test_kernels_ship_by_value(tmp_path):
    """The mapInPandas/applyInPandas closures call module-level kernels;
    a worker that cannot import this package must still run them, so the
    kernels unpickle in a process whose cwd and sys.path exclude the
    repo."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    blob = tmp_path / "kernels.pkl"
    blob.write_bytes(
        cloudpickle.dumps(
            (sk._mg_compress, sk.tdigest_sketch, sk.tdigest_quantile)
        )
    )
    script = (
        "import pickle, sys\n"
        "import numpy as np\n"
        "mg, td, tq = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "assert mg({'a': 5, 'b': 1, 'c': 1}, 1) == ({'a': 4}, 1)\n"
        "assert tq(td(np.arange(101.0)), 0.5) == 50.0\n"
        "try:\n"
        "    import datamine_v2_0_spark\n"
        "except ModuleNotFoundError:\n"
        "    print('ok')\n"
    )
    repo = str(Path(sk.__file__).resolve().parents[2])
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != Path(repo)
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(blob)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
