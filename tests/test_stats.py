"""OLS trend / Mann–Whitney / seasonal anomalies / SCD2 — numpy and
hand-built ground truths (the contract oracles certify engine parity;
these certify the math)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators import stats, stats as stx, windows as win
from datamine_v2_0_spark.operators.timeseries import seasonal_baseline_anomalies


def test_linreg_matches_numpy(spark):
    rng = np.random.RandomState(3)
    x = rng.uniform(0, 10, 400)
    y = 2.5 * x - 4.0 + rng.normal(0, 0.5, 400)
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 400, "x": x, "y": y})
    )
    row = stats.grouped_linreg(df, ["g"], "x", "y").first()
    slope, intercept = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]
    assert row.n == 400
    assert abs(row.slope - slope) < 1e-6
    assert abs(row.intercept - intercept) < 1e-6
    assert abs(row.r2 - r * r) < 1e-6


def test_linreg_degenerate_group_nulls(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["c", "c"], "x": [1.0, 1.0], "y": [2.0, 5.0]})
    )
    row = stats.grouped_linreg(df, ["g"], "x", "y").first()
    assert row.slope is None and row.r2 is None


def test_mann_whitney_hand_computed(spark):
    # A = {1,2,3}, B = {2,4,5}: midranks 1, 2.5, 2.5, 4, 5, 6
    # R_A = 1 + 2.5 + 4 = 7.5; U = 7.5 - 6 = 1.5
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": ["A", "A", "A", "B", "B", "B"],
             "v": [1.0, 2.0, 3.0, 2.0, 4.0, 5.0]}
        )
    )
    row = stats.mann_whitney_u(df, "g", "v", "A", "B").first()
    assert row.n_a == 3 and row.n_b == 3
    assert abs(row.u_stat - 1.5) < 1e-9
    # sigma^2 = 9/12 * (7 - (2^3-2)/(6*5)) = 0.75 * 6.8 = 5.1
    want_z = (1.5 - 4.5) / np.sqrt(5.1)
    assert abs(row.z_score - want_z) < 1e-6


def test_mann_whitney_matches_scipy_when_available(spark):
    scipy_stats = pytest.importorskip("scipy.stats")
    rng = np.random.RandomState(11)
    a = rng.normal(0, 1, 80)
    b = rng.normal(0.4, 1.2, 120)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": ["a"] * 80 + ["b"] * 120, "v": np.concatenate([a, b])}
        )
    )
    row = stats.mann_whitney_u(df, "g", "v", "a", "b").first()
    res = scipy_stats.mannwhitneyu(a, b, alternative="two-sided", method="asymptotic")
    assert abs(row.u_stat - res.statistic) < 1e-6


def test_seasonal_flags_planted_anomaly(spark):
    base = dt.datetime(2024, 1, 1)  # a Monday
    rows = []
    # 12 weeks of a flat-ish 10 +/- jitter signal at Monday 09:00 (the
    # spike contaminates its own slot's baseline, so enough clean
    # observations are needed for the z to clear threshold)
    for wk in range(12):
        rows.append(("k", base + dt.timedelta(weeks=wk, hours=9),
                     10.0 + 0.1 * wk))
    # the planted spike on the 13th Monday
    rows.append(("k", base + dt.timedelta(weeks=12, hours=9), 500.0))
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    out = seasonal_baseline_anomalies(df, ["key"], "ts", "value", 3.0)
    got = out.select("ts", "z_score").collect()
    assert len(got) == 1
    assert got[0].ts == base + dt.timedelta(weeks=12, hours=9)
    assert got[0].z_score > 2.0


def test_seasonal_zero_variance_slot_silent(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [("k", base + dt.timedelta(weeks=w, hours=9), 7.0) for w in range(4)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    assert seasonal_baseline_anomalies(df, ["key"], "ts", "value", 3.0).count() == 0


def test_scd_type2_planted_history(spark):
    d = dt.datetime
    rows = [
        (1, "LOW", d(2024, 1, 1), 10),
        (1, "LOW", d(2024, 1, 5), 11),
        (1, "HIGH", d(2024, 2, 1), 12),
        (1, "LOW", d(2024, 3, 1), 13),
        (2, "MED", d(2024, 1, 2), 14),
    ]
    df = spark.createDataFrame(
        rows, "k long, pri string, ts timestamp, ord long"
    )
    out = {
        (r.k, r.version): r
        for r in win.scd_type2(df, "k", "pri", "ts", "ord").collect()
    }
    assert len(out) == 4
    v1, v2, v3 = out[(1, 1)], out[(1, 2)], out[(1, 3)]
    assert (v1.pri, v1.valid_from, v1.valid_to, v1.is_current) == (
        "LOW", d(2024, 1, 1), d(2024, 2, 1), False)
    assert (v2.pri, v2.valid_from, v2.valid_to) == ("HIGH", d(2024, 2, 1), d(2024, 3, 1))
    assert (v3.pri, v3.valid_to, v3.is_current) == ("LOW", None, True)
    assert out[(2, 1)].is_current


def test_scd_type2_intervals_partition_time(spark, sf_dir):
    """Half-open intervals per key: each valid_from equals the previous
    valid_to, exactly one current version per key."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scd = win.scd_type2(o, "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    bad_chain = (
        scd.alias("a")
        .join(
            scd.alias("b"),
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.version") == F.col("a.version") + 1),
        )
        .filter(F.col("a.valid_to") != F.col("b.valid_from"))
        .count()
    )
    assert bad_chain == 0
    cur = scd.filter("is_current").groupBy("o_custkey").count()
    assert cur.filter("count != 1").count() == 0


def test_scd_type2_null_attr_opens_its_own_version(spark):
    """Regression: `!=` is NULL-unsafe, so a transition to or from a
    NULL attr produced NULL -> no change flag and the NULL run merged
    into the prior version. NULL runs must version like any value."""
    d = dt.datetime
    rows = [
        (1, "LOW", d(2024, 1, 1), 1),
        (1, None, d(2024, 2, 1), 2),
        (1, None, d(2024, 2, 5), 3),
        (1, "LOW", d(2024, 3, 1), 4),
        (3, None, d(2024, 1, 1), 5),  # key whose FIRST attr is NULL
        (3, "HI", d(2024, 2, 1), 6),
    ]
    df = spark.createDataFrame(
        rows, "k long, pri string, ts timestamp, ord long"
    )
    out = {
        (r.k, r.version): r
        for r in win.scd_type2(df, "k", "pri", "ts", "ord").collect()
    }
    assert len(out) == 5
    assert out[(1, 1)].pri == "LOW" and out[(1, 1)].valid_to == d(2024, 2, 1)
    assert out[(1, 2)].pri is None and out[(1, 2)].valid_from == d(2024, 2, 1)
    assert out[(1, 2)].valid_to == d(2024, 3, 1)
    assert out[(1, 3)].pri == "LOW" and out[(1, 3)].is_current
    assert out[(3, 1)].pri is None and not out[(3, 1)].is_current
    assert out[(3, 2)].pri == "HI" and out[(3, 2)].is_current


def test_ks_two_sample_hand_computed(spark):
    """a=[1,2,3], b=[3,4]: ECDFs cross maximally after v=2 —
    D = |2/3 - 0| = 2/3."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = stats.ks_two_sample(df, "g", "v", "a", "b").first()
    assert (r.n_a, r.n_b) == (3, 2)
    assert r.d_stat == round(2 / 3, 6)


def test_ks_identical_distributions_zero(spark):
    df = spark.createDataFrame(
        [("a", float(i % 5)) for i in range(50)]
        + [("b", float(i % 5)) for i in range(50)],
        "g string, v double",
    )
    r = stats.ks_two_sample(df, "g", "v", "a", "b").first()
    assert r.d_stat == 0.0 and r.p_approx == 1.0


def test_ks_matches_scipy_formula(spark):
    """D vs a direct numpy ECDF sup-norm on random data."""
    rng = np.random.default_rng(5)
    a = rng.normal(0, 1, 300).round(3)
    b = rng.normal(0.5, 1, 200).round(3)
    rows = [("a", float(x)) for x in a] + [("b", float(x)) for x in b]
    df = spark.createDataFrame(rows, "g string, v double")
    grid = np.unique(np.concatenate([a, b]))
    d_np = np.max(
        np.abs(
            np.searchsorted(np.sort(a), grid, side="right") / len(a)
            - np.searchsorted(np.sort(b), grid, side="right") / len(b)
        )
    )
    r = stats.ks_two_sample(df, "g", "v", "a", "b").first()
    # d_stat is rounded to 6 dp — compare within the rounding quantum
    assert abs(r.d_stat - d_np) <= 5e-7


def test_chi2_independent_table_zero(spark):
    """A perfectly proportional contingency table has chi2 = 0."""
    rows = []
    for a, n_a in (("x", 2), ("y", 3)):
        for b, n_b in (("p", 4), ("q", 6)):
            rows += [(a, b)] * (n_a * n_b)
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.chi_square_independence(df, "a", "b").first()
    assert r.chi2 == 0.0 and r.dof == 1 and r.n == 50


def test_chi2_hand_computed_2x2(spark):
    """[[10, 20], [20, 10]]: all expected = 15, chi2 = 4*(25/15) = 20/3."""
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 20 + [("y", "q")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.chi_square_independence(df, "a", "b").first()
    assert r.chi2 == round(20 / 3, 6)
    assert r.z_score > 2.0  # significant at any conventional level


def test_kappa_perfect_and_chance(spark):
    same = spark.createDataFrame(
        [("x", "x")] * 30 + [("y", "y")] * 20, "a string, b string"
    )
    r = stats.cohens_kappa(same, "a", "b").first()
    assert r.po == 1.0 and r.kappa == 1.0
    # independent raters with 50/50 marginals: po = 0.5 = pe -> kappa 0
    indep = spark.createDataFrame(
        [("x", "x")] * 25 + [("x", "y")] * 25
        + [("y", "x")] * 25 + [("y", "y")] * 25,
        "a string, b string",
    )
    r = stats.cohens_kappa(indep, "a", "b").first()
    assert r.pe == 0.5 and r.kappa == 0.0


def test_kappa_hand_computed(spark):
    """Classic 2x2: agree 20+15, disagree 5+10 (n=50):
    po = 0.7, pe = (25*30 + 25*20)/2500 = 0.5, kappa = 0.4."""
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5
        + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.cohens_kappa(df, "a", "b").first()
    assert (r.po, r.pe, r.kappa) == (0.7, 0.5, 0.4)


def test_kappa_constant_raters_null(spark):
    """Both raters constant: pe = 1, kappa undefined -> NULL."""
    df = spark.createDataFrame([("x", "x")] * 10, "a string, b string")
    r = stats.cohens_kappa(df, "a", "b").first()
    assert r.pe == 1.0 and r.kappa is None


def test_stratified_sample_exact_k_counts_and_determinism(spark, sf_dir):
    from datamine_v2_0_spark.operators import filters as flt

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    got = flt.stratified_sample_exact_k(docs, ["lang"], "doc_id", k=10, seed=3)
    counts = {r[0]: r[1] for r in got.groupBy("lang").count().collect()}
    assert counts == {k: min(10, v) for k, v in full.items()}
    again = flt.stratified_sample_exact_k(docs, ["lang"], "doc_id", k=10, seed=3)
    assert sorted(r[0] for r in got.select("doc_id").collect()) == sorted(
        r[0] for r in again.select("doc_id").collect()
    )
    other = flt.stratified_sample_exact_k(docs, ["lang"], "doc_id", k=10, seed=4)
    assert sorted(r[0] for r in got.select("doc_id").collect()) != sorted(
        r[0] for r in other.select("doc_id").collect()
    )


def test_winsorize_caps_and_preserves_rows(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("g", float(v)) for v in range(1, 101)] + [("g", 1e9)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = agg.winsorize(df, ["k"], "v", 0.05, 0.95).collect()
    assert len(out) == 101
    ws = [r.value_winsorized for r in out]
    lo, hi = out[0].lo_cap, out[0].hi_cap
    assert min(ws) == lo and max(ws) == hi
    # the 1e9 outlier is capped, not dropped
    assert hi < 1e9
    # interior values untouched
    mid = [r for r in out if lo < r.v < hi]
    assert all(r.value_winsorized == r.v for r in mid)


def test_winsorize_null_values_stay_null(spark):
    """Regression: greatest/least skip NULL args, which fabricated
    lo_cap for missing measurements."""
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("g", float(v)) for v in range(1, 21)] + [("g", None)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = agg.winsorize(df, ["k"], "v", 0.05, 0.95).collect()
    nulls = [r for r in out if r.v is None]
    assert len(nulls) == 1 and nulls[0].value_winsorized is None


def test_welch_null_values_excluded_from_counts(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("a", 1.0), ("a", 2.0), ("a", None), ("a", None),
            ("b", 5.0), ("b", 6.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = agg.ab_welch_ttest(df, "g", "v", "a", "b").first()
    assert (r.n_a, r.n_b) == (2, 3)


def test_welch_zero_variance_yields_null_not_error(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = agg.ab_welch_ttest(df, "g", "v", "a", "b").first()
    assert r.t_stat is None and r.df_welch is None


def test_diversity_single_stratum_no_crash(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame([("x",)] * 10, "s string")
    r = agg.stratum_diversity(df, "s").first()
    assert r.n_strata == 1 and r.entropy == 0.0 and r.entropy_norm is None


def test_percentile_names_no_truncation_or_collision(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    out = agg.exact_percentiles(df, [], "v", quantiles=(0.29, 0.99, 0.999))
    assert out.columns == ["p29", "p99", "p99_9"]


def test_cosine_zero_vector_yields_null_not_error(spark):
    from datamine_v2_0_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id = 1")
    got = sim.cosine_topk(corpus, queries, "embedding", "vec_id", k=1).collect()
    # the job completes (no ANSI DIVIDE_BY_ZERO) and the zero vector
    # never outranks a real neighbor (NULL sorts after any similarity)
    assert {r.neighbor_id for r in got} == {3}


def test_chi2_perfect_association_counts_unobserved_cells(spark):
    """Regression (round-6 advice): a perfectly associated 2x2 table has
    chi2 = n. The old sum ran only over OBSERVED cells, so the two
    never-observed off-diagonal cells (each contributing E = 12.5) were
    dropped and chi2 came out as 25 instead of 50 — understating the
    statistic exactly when association is strongest."""
    rows = [("x", "p")] * 25 + [("y", "q")] * 25
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.chi_square_independence(df, "a", "b").first()
    assert r.n == 50 and r.dof == 1
    assert r.chi2 == 50.0


def test_mann_whitney_bucket_invariant(spark):
    """The distributed prefix sum is exact: any bucket count gives the
    single-partition answer."""
    rng = np.random.RandomState(7)
    rows = [("a", float(v)) for v in rng.normal(0, 1, 150)] + [
        ("b", float(v)) for v in rng.normal(0.3, 1, 170)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    one = stats.mann_whitney_u(df, "g", "v", "a", "b", buckets=1).first()
    many = stats.mann_whitney_u(df, "g", "v", "a", "b", buckets=7).first()
    assert one == many


def test_ks_bucket_invariant(spark):
    rng = np.random.RandomState(9)
    rows = [("a", float(v)) for v in rng.normal(0, 1, 200)] + [
        ("b", float(v)) for v in rng.normal(0.5, 1, 150)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    one = stats.ks_two_sample(df, "g", "v", "a", "b", buckets=1).first()
    many = stats.ks_two_sample(df, "g", "v", "a", "b", buckets=5).first()
    assert one == many


def test_ks_empty_group_null_not_ansi_error(spark):
    """Regression (round-6 advice): a group with zero non-null values
    must yield a NULL d_stat row, not an ANSI DIVIDE_BY_ZERO failure."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None)], "g string, v double"
    )
    r = stats.ks_two_sample(df, "g", "v", "a", "b").first()
    assert r.d_stat is None
    # round-7 consistency fix: NULL D must carry NULL p, not p = 1.0
    # (F.least skips NULL operands, so the unguarded form reported 1.0)
    assert r.p_approx is None


def test_dist_prefix_sums_reliable_checkpoint(spark, durable_checkpoints):
    """The durable fault-tolerance path (round-6 advice: localCheckpoint
    blocks are unreplicated, executor loss kills the job) must produce
    identical cumulatives through the session's checkpoint dir."""
    rows = [(float(i), i % 3 + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "v double, c int")

    def run():
        out = stats._dist_prefix_sums(
            df, "v", ["c"], include_current=True, buckets=4
        )
        return sorted((r["v"], r["__cum_c"]) for r in out.collect())

    a = run()
    with durable_checkpoints() as ckpt:
        b = run()
    assert a == b
    assert any(ckpt.rglob("*")), "no durable checkpoint was written"


def test_mann_whitney_single_value_null_z_not_error(spark):
    """n*(n-1) = 0 when only one observation exists: NULL z, no ANSI
    DIVIDE_BY_ZERO."""
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    r = stats.mann_whitney_u(df, "g", "v", "a", "b").first()
    assert r.z_score is None


def test_winsorize_null_stratum_rows_survive(spark):
    """Regression (round-5 verdict #2): groupBy puts NULL-keyed rows in
    a NULL group, but the plain equi join-back dropped them — rows with
    a NULL stratum vanished from the output. They must come back capped
    within the NULL group."""
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = [("g", float(v)) for v in range(1, 21)] + [
        (None, float(v)) for v in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = agg.winsorize(df, ["k"], "v", 0.05, 0.95).collect()
    assert len(out) == 40
    null_rows = [r for r in out if r.k is None]
    assert len(null_rows) == 20
    # capped within the NULL group, not against the 'g' group's caps
    lo, hi = null_rows[0].lo_cap, null_rows[0].hi_cap
    assert 1.0 < lo < hi < 20.0
    assert min(r.value_winsorized for r in null_rows) == lo
    assert max(r.value_winsorized for r in null_rows) == hi


def test_grouped_mad_and_outliers_null_stratum(spark):
    from datamine_v2_0_spark.operators import aggregates as agg

    rows = (
        [("g", float(v)) for v in range(1, 21)]
        + [(None, float(v)) for v in range(1, 21)]
        + [(None, 1e6)]  # planted outlier in the NULL stratum
    )
    df = spark.createDataFrame(rows, "k string, v double")
    mad = {r.k: r for r in agg.grouped_mad(df, ["k"], "v").collect()}
    assert set(mad) == {"g", None}
    assert mad[None].n == 21 and mad[None].mad > 0
    out = agg.robust_outliers(df, ["k"], "v", z_thresh=3.5).collect()
    flagged = [(r.k, r.v) for r in out]
    assert (None, 1e6) in flagged


# ---------------------------------------------------------------------------
# roc_auc
# ---------------------------------------------------------------------------


def _auc_numpy(y, s):
    import numpy as np

    y = np.asarray(y, dtype=float)
    s = np.asarray(s, dtype=float)
    # midrank AUC: U_pos / (n_pos * n_neg)
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s), dtype=float)
    sorted_s = s[order]
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    n_pos, n_neg = y.sum(), (1 - y).sum()
    u = ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2
    return u / (n_pos * n_neg)


def test_roc_auc_perfect_reversed_and_ties(spark):
    perfect = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], "y int, s double"
    )
    r = stx.roc_auc(perfect, "y", "s").collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (2, 2, 1.0)
    assert stx.roc_auc(
        perfect.withColumn("s", -F.col("s")), "y", "s"
    ).collect()[0].auc == 0.0
    all_tied = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (0, 5.0), (0, 5.0)], "y int, s double"
    )
    assert stx.roc_auc(all_tied, "y", "s").collect()[0].auc == 0.5


def test_roc_auc_matches_numpy_with_ties(spark):
    import random

    rng = random.Random(7)
    rows = [(rng.randint(0, 1), float(rng.randint(0, 30)) / 4) for _ in range(500)]
    df = spark.createDataFrame(rows, "y int, s double")
    got = stx.roc_auc(df, "y", "s").collect()[0]
    want = _auc_numpy([r[0] for r in rows], [r[1] for r in rows])
    assert got.auc == round(want, 6)


def test_roc_auc_degenerate(spark):
    one_class = spark.createDataFrame([(1, 0.3), (1, 0.9)], "y int, s double")
    r = stx.roc_auc(one_class, "y", "s").collect()[0]
    assert r.n_pos == 2 and r.n_neg == 0 and r.auc is None
    empty = spark.createDataFrame([], "y int, s double")
    r2 = stx.roc_auc(empty, "y", "s").collect()[0]
    assert r2.auc is None


def test_reliability_bins_and_clamping(spark):
    df = spark.createDataFrame(
        [(1, 0.95), (0, 0.95), (1, 1.0), (0, -0.2), (1, 1.7), (0, 0.05)],
        "y int, s double",
    )
    bins = {r.bin: r for r in stx.reliability_bins(df, "y", "s", bins=10).collect()}
    # 1.0, 1.7 and 0.95 all land in the top bin (clamp + closed top edge)
    assert bins[9].n == 4 and bins[0].n == 2
    assert bins[9].acc == 0.75 and bins[0].acc == 0.0


def test_calibration_report_perfect_and_hand(spark):
    # perfectly calibrated degenerate scores: score == label
    perfect = spark.createDataFrame(
        [(1, 1.0), (0, 0.0), (1, 1.0), (0, 0.0)], "y int, s double"
    )
    r = stx.calibration_report(perfect, "y", "s").collect()[0]
    assert (r.ece, r.mce, r.brier) == (0.0, 0.0, 0.0)
    # hand case: one bin, conf 0.5, acc 1.0 -> ece = mce = 0.5
    off = spark.createDataFrame([(1, 0.5), (1, 0.5)], "y int, s double")
    r2 = stx.calibration_report(off, "y", "s").collect()[0]
    assert (r2.n, r2.ece, r2.mce) == (2, 0.5, 0.5)
    assert r2.brier == 0.25
    # empty input: NULL metrics, zero count, no crash
    empty = spark.createDataFrame([], "y int, s double")
    r3 = stx.calibration_report(empty, "y", "s").collect()[0]
    assert r3.n == 0 and r3.ece is None
