"""Skew operators + sessionize/bfill: semantics-preservation checks."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import Row, functions as F

from datamine_v2_0_spark.operators import windows as win
from datamine_v2_0_spark.operators.skew import salted_agg, salted_join
from datamine_v2_0_spark.plans import count_exchanges

T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def skewed_df(spark):
    # one hot key (90%), many cold keys
    rows = [Row(k="hot", v=float(i)) for i in range(900)]
    rows += [Row(k=f"c{i}", v=float(i)) for i in range(100)]
    return spark.createDataFrame(rows)


def test_salted_agg_matches_plain(spark, skewed_df):
    plain = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in skewed_df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
             F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in salted_agg(
            skewed_df,
            ["k"],
            {"n": (F.count(F.lit(1)), F.sum("n")),
             "s": (F.sum("v"), F.sum("s")),
             "mx": (F.max("v"), F.max("mx"))},
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, skewed_df):
    dim = spark.createDataFrame(
        [Row(k="hot", label="H")] + [Row(k=f"c{i}", label=f"L{i}") for i in range(100)]
    )
    plain = sorted(
        (r["k"], r["v"], r["label"])
        for r in skewed_df.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["label"])
        for r in salted_join(skewed_df, dim, "k", salt_buckets=4).collect()
    )
    assert salted == plain


def test_salted_join_rejects_right_outer(spark, skewed_df):
    # replication of the small side makes right/full joins emit unmatched
    # rows once per salt bucket — the operator must refuse them
    dim = spark.createDataFrame([Row(k="hot", label="H")])
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(skewed_df, dim, "k", salt_buckets=4, how="right")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(skewed_df, dim, "k", salt_buckets=4, how="full")


def test_sessionize(spark):
    rows = [
        Row(u=1, ts=T0 + timedelta(seconds=s), i=n)
        for n, s in enumerate([0, 10, 20, 5000, 5010, 99999])
    ]
    df = spark.createDataFrame(rows)
    w = win.ordered_window(["u"], ["ts", "i"])
    got = [r["s"] for r in
           df.select(win.sessionize("ts", w, 60.0).alias("s")).orderBy("ts").collect()]
    assert got == [1, 1, 1, 2, 2, 3]


def test_bfill(spark):
    df = spark.createDataFrame(
        [Row(g="a", i=1, v=None), Row(g="a", i=2, v=2.0),
         Row(g="a", i=3, v=None), Row(g="a", i=4, v=4.0)],
        "g string, i int, v double",
    )
    w = win.ordered_window(["g"], ["i"])
    got = [r["b"] for r in df.select(win.bfill("v", w).alias("b")).orderBy("i").collect()]
    assert got == [2.0, 2.0, 4.0, 4.0]


# ---------------------------------------------------------------------------
# Adversarial half-hot fixture: ONE key owns 50% of all rows. Every
# operator family that partitions by key must complete and stay correct
# under this shape, and the skew machinery (salting, AQE skew-join)
# must demonstrably split the hot key's work.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def half_hot(spark):
    # 40k rows: 'dev_hot' holds 20k (50%); 197 cold keys share the rest.
    return spark.range(40_000).selectExpr(
        "CASE WHEN id < 20000 THEN 'dev_hot' "
        "ELSE concat('dev_c', id % 197) END AS device_date",
        "timestamp_micros(1704067200000000 + id * 1000000) AS ts",
        "CAST(id % 97 AS DOUBLE) + "
        "CASE WHEN id BETWEEN 10000 AND 19999 THEN 500.0 ELSE 0.0 END AS v",
        "id",
    )


def test_half_hot_sessionize_completes(spark, half_hot):
    # the hot key's 20k rows order inside ONE window partition; gap=2s
    # over 1s-spaced rows -> a single session for the hot key, and each
    # cold key's 197s-spaced rows each open their own session
    w = win.ordered_window(["device_date"], ["ts"])
    out = (
        half_hot.select("device_date", win.sessionize("ts", w, 2.0).alias("s"))
        .groupBy("device_date")
        .agg(F.max("s").alias("n_sessions"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["device_date"]: (r["n_sessions"], r["n"]) for r in out}
    assert got["dev_hot"] == (1, 20_000)
    assert all(ns == n for k, (ns, n) in got.items() if k != "dev_hot")


def test_half_hot_salted_agg_splits_and_matches(spark, half_hot):
    plain = {
        r["device_date"]: (r["n"], r["s"])
        for r in half_hot.groupBy("device_date")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["device_date"]: (r["n"], r["s"])
        for r in salted_agg(
            half_hot,
            ["device_date"],
            {"n": (F.count(F.lit(1)), F.sum("n")),
             "s": (F.sum("v"), F.sum("s"))},
            salt_buckets=16,
        ).collect()
    }
    assert salted == plain
    # the mechanism: phase-1 salt really splits the hot key ~evenly
    # across 16 partial groups (no partial group is a straggler)
    partials = (
        half_hot.groupBy(
            "device_date",
            F.pmod(F.monotonically_increasing_id(), F.lit(16)).alias("salt"),
        )
        .count()
        .filter(F.col("device_date") == "dev_hot")
        .collect()
    )
    sizes = [r["count"] for r in partials]
    assert len(sizes) == 16
    assert max(sizes) <= 2 * (20_000 // 16)


def test_half_hot_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    # drop the AQE skew thresholds so the hot partition qualifies at
    # test scale, force a shuffle join, and assert the final adaptive
    # plan marked the join as skew-split (skew=true on the SMJ node).
    # Hard-won conditions for OptimizeSkewedJoin to apply, encoded here
    # so they stay documented:
    #  - the skewed bytes must survive to the join's shuffle: an
    #    incompressible pad (sha2), not repeat('x'), which LZ4 erases;
    #  - both SMJ children must be Sort-over-ShuffleQueryStage — a
    #    HashAggregate between stage and join (e.g. an unmaterialized
    #    .distinct() dim) breaks the pattern match and silently disables
    #    the optimization, so the dim side is materialized to parquet;
    #  - the action must go through the SQL path (collect/write), not
    #    df.rdd/foreach, which bypasses AQE re-optimization.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    big = spark.range(200_000).selectExpr(
        "CASE WHEN id < 100000 THEN 'dev_hot' "
        "ELSE concat('dev_c', id % 197) END AS device_date",
        "id",
    )
    try:
        for k, c in confs.items():
            spark.conf.set(k, c)
        fat = big.withColumn("pad", F.sha2(F.col("id").cast("string"), 256))
        dim_path = str(tmp_path / "dim")
        big.select("device_date").distinct().withColumn(
            "label", F.concat(F.lit("L:"), F.col("device_date"))
        ).write.mode("overwrite").parquet(dim_path)
        dim = spark.read.parquet(dim_path)
        joined = fat.join(dim, "device_date").select(
            F.sum(F.length("pad")).alias("s")
        )
        [row] = joined.collect()
        assert row["s"] == 200_000 * 64
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_half_hot_dedup_groups_star_graph(spark):
    from datamine_v2_0_spark.operators import dedup as dd

    # star: node 0 pairs with every other node -> 50%+ of all edge
    # endpoints are one node; connected components must converge to one
    # component without an edge blow-up
    n = 4000
    pairs = spark.range(1, n).selectExpr("CAST(0 AS LONG) AS id_a", "id AS id_b")
    rows = dd.connected_components(pairs).collect()
    assert len(rows) == n
    assert {r["comp"] for r in rows} == {0}


def test_half_hot_cpd_completes(spark, half_hot):
    from datamine_v2_0_spark.pipeline import cpd

    ds = cpd.downsample(half_hot, "device_date", "ts", ["v"], "id", "5 seconds")
    out = cpd.detect_change_points(
        ds, "device_date", ["v"], "id", num_tasks=4
    ).collect()
    # the hot key's planted level shift (+500 at id 10000) must surface
    hot = [r for r in out if r["partition_key"] == "dev_hot"]
    assert hot, "no change point detected on the hot key"


def test_salt_is_content_derived_not_order_derived(spark):
    """Regression: monotonically_increasing_id salts depend on row order
    within a partition, so a stage retry could re-salt rows differently
    (SPARK-23207 class). A content hash is retry-stable: the same rows
    salted after an arbitrary repartition give identical aggregates."""
    from datamine_v2_0_spark.operators import skew as sk

    df = spark.range(10_000).selectExpr(
        "CAST(id % 3 AS STRING) AS k", "CAST(id AS DOUBLE) AS v", "id"
    )
    aggs = {
        "n": (F.count(F.lit(1)), F.sum("n")),
        "s": (F.sum("v"), F.sum("s")),
    }
    a = {r.k: (r.n, r.s) for r in sk.salted_agg(df, ["k"], aggs).collect()}
    b = {
        r.k: (r.n, r.s)
        for r in sk.salted_agg(df.repartition(7), ["k"], aggs).collect()
    }
    assert a == b


def test_salted_agg_map_column_ok(spark):
    """Regression (round-6 advice): Spark's hash functions reject
    MapType, so salting over EVERY column failed analysis on any frame
    carrying a map column. Map columns are excluded from the salt
    source by default."""
    df = spark.createDataFrame(
        [Row(k="hot", v=float(i), m={"a": i}) for i in range(50)]
        + [Row(k="c", v=1.0, m={"b": 1})]
    )
    got = {
        r["k"]: (r["n"], r["s"])
        for r in salted_agg(
            df,
            ["k"],
            {"n": (F.count(F.lit(1)), F.sum("n")), "s": (F.sum("v"), F.sum("s"))},
            salt_buckets=4,
        ).collect()
    }
    assert got["hot"][0] == 50 and got["c"] == (1, 1.0)


def test_salted_join_explicit_salt_cols(spark, skewed_df):
    dim = spark.createDataFrame([Row(k="hot", lbl="H"), Row(k="c1", lbl="C")])
    plain = salted_join(skewed_df, dim, "k", salt_buckets=4)
    explicit = salted_join(
        skewed_df, dim, "k", salt_buckets=4, salt_cols=["v"]
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_salted_agg_all_map_columns_raises(spark):
    df = spark.createDataFrame([Row(m={"a": 1})])
    with pytest.raises(ValueError, match="salt_cols"):
        salted_agg(df, ["m"], {"n": (F.count(F.lit(1)), F.sum("n"))})
