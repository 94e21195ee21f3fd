"""Statistical analysis operators: per-group OLS trend fitting and the
Mann–Whitney U rank test. Companions to `aggregates.ab_welch_ttest`
(parametric A/B) and `aggregates.grouped_mad` (robust dispersion).

Everything here is pure Column algebra — closed-form sufficient
statistics inside ONE partial-aggregatable pass (OLS) or a distributed
prefix sum over the distinct-value relation (Mann–Whitney / KS). No
UDFs, no collects; no operator in this module ever funnels an unbounded
relation through a single task: the rank cumulatives range-partition
the distinct values, cumulate within each range bucket, and stitch the
buckets with a broadcast offsets relation whose size is the bucket
count, not the data.

Reference parity: the reference's EDA step fits trends per device via
pandas/Polars in a driver loop (`STEP 3 - EDA Analysis`); here the
closed-form sums make the fit a distributed aggregate.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint


def grouped_linreg(
    df: DataFrame,
    keys: Sequence[str],
    x: str,
    y: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group simple linear regression y = a + b·x via the closed-form
    sufficient statistics (n, Σx, Σy, Σxx, Σxy, Σyy): returns
    (keys..., n, slope, intercept, r2).

    One partial aggregate — the six sums combine map-side, so the
    shuffle carries 6 doubles per group regardless of group size.
    Groups with zero x-variance get NULL slope/intercept/r2 (vertical
    line), matching SQL regr_* semantics. Keep |x| small (bucket
    indices, hours — not raw epoch seconds) so the 6-dp rounding is
    stable across engines."""
    keys = list(keys)
    xc = F.col(x).cast("double")
    yc = F.col(y).cast("double")
    both = xc.isNotNull() & yc.isNotNull()
    agg = df.groupBy(*keys).agg(
        F.count(F.when(both, 1)).alias("n"),
        F.sum(F.when(both, xc)).alias("__sx"),
        F.sum(F.when(both, yc)).alias("__sy"),
        F.sum(F.when(both, xc * xc)).alias("__sxx"),
        F.sum(F.when(both, xc * yc)).alias("__sxy"),
        F.sum(F.when(both, yc * yc)).alias("__syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    varx_n = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vary_n = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = F.when(varx_n != 0, cov_n / varx_n)
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    r2 = F.when(
        (varx_n != 0) & (vary_n != 0), cov_n * cov_n / (varx_n * vary_n)
    )
    return agg.select(
        *keys,
        "n",
        F.round(slope, round_to).alias("slope"),
        F.round(intercept, round_to).alias("intercept"),
        F.round(r2, round_to).alias("r2"),
    )


def _dist_prefix_sums(
    rel: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    include_current: bool,
    buckets: int,
) -> DataFrame:
    """Distributed prefix sums over an ordered relation — the scale-safe
    replacement for ``Window.orderBy(order_col)`` with no partitionBy
    (which funnels the whole relation through ONE task).

    Standard two-level decomposition: range-exchange the relation on
    ``order_col`` into ``buckets`` ordered partitions (Spark's sampled
    RangePartitioner, so skewed value distributions still balance),
    cumulate within each bucket (each bucket is its own window task),
    then add the running total of all PRIOR buckets via a broadcast
    offsets relation of exactly ``buckets`` rows. The only globally
    ordered window runs over that tiny offsets relation — bounded by
    the bucket count by construction, never by the data.

    PRECONDITION: ``rel`` must have at most one row per distinct
    ``order_col`` value. With duplicate keys the within-bucket
    ``rowsBetween`` cumulatives are nondeterministic inside ties and
    the exclusive (``include_current=False``) prefix loses its
    '#values strictly below' meaning — pre-aggregate duplicates before
    calling. Call sites and how each satisfies it: the KS and
    Mann-Whitney rank paths in this module pass ``groupBy(order_col)``
    outputs (unique by construction); ``binning.quantile_bins_exact``
    passes ROW-LEVEL data ordered by a ``(col, tiebreak)`` struct,
    which is unique only if the caller's ``tiebreak`` column is truly
    unique — that contract lives with (and is guarded in)
    ``quantile_bins_exact``, see its ``check_unique`` flag.

    Emits ``__cum_<col>`` for every ``sum_cols`` entry (inclusive or
    exclusive of the current row per ``include_current``). Two lineage
    cuts (:func:`~datamine_v2_0_spark.operators.ckpt.iter_checkpoint`,
    eager, durable when the session has a checkpoint directory): the
    input relation (the range exchange's boundary-sampling job would
    otherwise recompute the upstream aggregate — one corpus scan, not
    two) and the bucketed relation (so both consumers, cumulatives +
    bucket totals, see one consistent ``spark_partition_id``
    assignment)."""
    rel = iter_checkpoint(rel)
    pv = iter_checkpoint(
        rel.repartitionByRange(buckets, F.col(order_col))
        .withColumn("__bkt", F.spark_partition_id())
    )
    end = 0 if include_current else -1
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    w_off = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    totals = pv.groupBy("__bkt").agg(
        *[F.sum(c).alias(f"__tot{c}") for c in sum_cols]
    )
    offsets = totals.select(
        "__bkt",
        *[
            F.coalesce(F.sum(f"__tot{c}").over(w_off), F.lit(0)).alias(
                f"__off{c}"
            )
            for c in sum_cols
        ],
    )
    out = pv
    for c in sum_cols:
        out = out.withColumn(
            f"__cum_{c}", F.coalesce(F.sum(c).over(w_in), F.lit(0))
        )
    out = out.join(F.broadcast(offsets), "__bkt")
    for c in sum_cols:
        out = out.withColumn(
            f"__cum_{c}", F.col(f"__cum_{c}") + F.col(f"__off{c}")
        )
    return out.drop("__bkt", *[f"__off{c}" for c in sum_cols])


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
    buckets: int = 32,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two groups — the
    non-parametric A/B comparison: no normality assumption, robust to
    outliers that break the t-test. Returns ONE row:
    (n_a, n_b, u_stat, z_score) where u_stat is U for group A and
    z_score the tie-corrected normal approximation.

    Shape: midranks via a per-distinct-value aggregate (the rank
    exchange carries distinct metric values, not rows) followed by a
    DISTRIBUTED prefix sum over that relation (`_dist_prefix_sums`):
    range-partitioned cumulatives + broadcast bucket offsets. Even on a
    continuous metric where distinct ≈ rows (latency, loss, score) no
    single task ever sees more than ~1/``buckets`` of the relation —
    raise ``buckets`` toward the cluster's task budget at corpus
    scale."""
    v = F.col(value_col).cast("double")
    sub = df.filter(
        F.col(group_col).isin([group_a, group_b]) & v.isNotNull()
    ).select(F.col(group_col).alias("__g"), v.alias("__v"))
    # midrank = (#values < v) + (#values <= v) + 1, all halved — use the
    # window-free formulation: rank from a per-value aggregate, which
    # shuffles distinct values instead of rows
    per_val = sub.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__t"),
        F.count(F.when(F.col("__g") == F.lit(group_a), 1)).alias("__ta"),
    )
    ranked = _dist_prefix_sums(
        per_val, "__v", ["__t"], include_current=False, buckets=buckets
    ).withColumn(
        "__midrank",
        F.col("__cum___t").cast("double")
        + (F.col("__t").cast("double") + 1.0) / 2.0,
    )
    stats = ranked.agg(
        F.sum("__ta").cast("double").alias("__na"),
        F.sum(F.col("__t") - F.col("__ta")).cast("double").alias("__nb"),
        F.sum(F.col("__midrank") * F.col("__ta")).alias("__ra"),
        F.sum(
            F.col("__t").cast("double") * F.col("__t") * F.col("__t")
            - F.col("__t")
        ).alias("__ties"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    n = na + nb
    u = F.col("__ra") - na * (na + 1) / 2
    mu = na * nb / 2
    # try_divide: a degenerate input (one value total, n <= 1) must
    # yield a NULL z row, not an ANSI DIVIDE_BY_ZERO job failure
    sigma2 = (
        na * nb / 12.0
        * ((n + 1) - F.try_divide(F.col("__ties"), n * (n - 1)))
    )
    z = F.when(sigma2 > 0, (u - mu) / F.sqrt(sigma2))
    return stats.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(u, round_to).alias("u_stat"),
        F.round(z, round_to).alias("z_score"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
    quantize_dp: int | None = None,
    buckets: int = 32,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test — the distribution-shape drift
    check PSI can't give you (PSI sees 10 fixed bins; KS sees the whole
    ECDF). Returns ONE row (n_a, n_b, d_stat, p_approx): D is the exact
    sup-norm ECDF distance, p the standard asymptotic first-term
    approximation 2·exp(−2·c²), c = D·sqrt(na·nb/(na+nb)).

    Shape: one per-value aggregate (shuffles DISTINCT values, not
    rows), then a DISTRIBUTED prefix sum over the distinct-value
    relation (`_dist_prefix_sums`: range-partitioned cumulatives +
    broadcast bucket offsets — no single-task ordered window even when
    distinct ≈ rows), one 1-row fold. ``quantize_dp`` optionally
    floor-quantizes values first — it bounds the distinct-value relation
    itself, cheaper still on continuous doubles (the D statistic of the
    quantized ECDFs bounds the true D within one bin mass); the exact
    path is scale-safe either way."""
    v = F.col(value_col).cast("double")
    if quantize_dp is not None:
        scale = F.lit(float(10**quantize_dp))
        v = F.floor(v * scale) / scale
    sub = df.filter(
        F.col(group_col).isin([group_a, group_b]) & v.isNotNull()
    ).select(F.col(group_col).alias("__g"), v.alias("__v"))
    per_val = sub.groupBy("__v").agg(
        F.count(F.when(F.col("__g") == F.lit(group_a), 1)).alias("__ca"),
        F.count(F.when(F.col("__g") == F.lit(group_b), 1)).alias("__cb"),
    )
    cum = _dist_prefix_sums(
        per_val,
        "__v",
        ["__ca", "__cb"],
        include_current=True,
        buckets=buckets,
    ).select(
        F.col("__cum___ca").cast("double").alias("__fa"),
        F.col("__cum___cb").cast("double").alias("__fb"),
    )
    # the inclusive prefix sum's maximum IS the group total — no second
    # pass over per_val needed
    # try_divide: a group with zero non-null values yields a NULL d row,
    # not an ANSI DIVIDE_BY_ZERO job failure
    stats = cum.crossJoin(
        F.broadcast(
            cum.agg(F.max("__fa").alias("__na"), F.max("__fb").alias("__nb"))
        )
    ).agg(
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
        F.max(
            F.abs(
                F.try_divide(F.col("__fa"), F.col("__na"))
                - F.try_divide(F.col("__fb"), F.col("__nb"))
            )
        ).alias("__d"),
    )
    na, nb, d = F.col("__na"), F.col("__nb"), F.col("__d")
    c2 = d * d * F.try_divide(na * nb, na + nb)
    # guard: F.least skips NULL operands, so a degenerate input (one or
    # both groups empty → D NULL) would report p = 1.0; the consistent
    # answer is (NULL d, NULL p)
    p = F.when(
        d.isNotNull(),
        F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * c2)),
    )
    return stats.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(d, round_to).alias("d_stat"),
        F.round(p, round_to).alias("p_approx"),
    )


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 6,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the 'is my label distribution independent of source?'
    audit. Returns ONE row (n, dof, chi2, z_score): chi2 over the
    contingency table, dof = (r−1)(c−1), and the Wilson–Hilferty
    cube-root normal approximation for an engine-portable significance
    score (exact chi-square CDFs need the regularized gamma, which SQL
    engines lack).

    Shape: one cell-level aggregate, completed to the FULL r×c
    contingency grid (distinct rows × distinct columns, observed count
    0 where a combination never occurs — an unobserved cell still
    contributes (0−E)²/E = E to the statistic, and omitting those terms
    understates chi2 exactly when association is strongest), marginals
    via two tiny window sums over the grid, one 1-row fold — the corpus
    is scanned once and the shuffle carries cells, not rows."""
    sub = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    # three consumers (grid axes + observed left join): materialize the
    # tiny observed-cell relation once
    observed = iter_checkpoint(
        sub.groupBy("__a", "__b").agg(
            F.count(F.lit(1)).cast("double").alias("__o")
        )
    )
    grid = (
        observed.select("__a")
        .distinct()
        .crossJoin(observed.select("__b").distinct())
    )
    cells = grid.join(observed, ["__a", "__b"], "left").select(
        "__a", "__b", F.coalesce("__o", F.lit(0.0)).alias("__o")
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    with_m = cells.select(
        "__a",
        "__b",
        "__o",
        F.sum("__o").over(wa).alias("__ra"),
        F.sum("__o").over(wb).alias("__cb"),
        F.sum("__o").over(wall).alias("__n"),
    )
    e = F.col("__ra") * F.col("__cb") / F.col("__n")
    stats = with_m.agg(
        F.max("__n").alias("__n"),
        F.sum((F.col("__o") - e) * (F.col("__o") - e) / e).alias("__chi2"),
        F.countDistinct("__a").cast("double").alias("__r"),
        F.countDistinct("__b").cast("double").alias("__c"),
    )
    dof = (F.col("__r") - 1) * (F.col("__c") - 1)
    x = F.col("__chi2") / dof
    # Wilson–Hilferty: (chi2/dof)^(1/3) ~ N(1 - 2/(9·dof), 2/(9·dof))
    mu = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof)
    s2 = F.lit(2.0) / (F.lit(9.0) * dof)
    z = F.when(dof > 0, (F.cbrt(x) - mu) / F.sqrt(s2))
    return stats.select(
        F.col("__n").cast("bigint").alias("n"),
        dof.cast("bigint").alias("dof"),
        F.round(F.col("__chi2"), round_to).alias("chi2"),
        F.round(z, round_to).alias("z_score"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two label columns —
    the annotation-quality gate for labeling pipelines (the reference
    ingests Label Studio task JSON; kappa is how you decide whether the
    labels are usable). Returns ONE row (n, po, pe, kappa):
    po = observed agreement rate, pe = chance agreement Σ_k pa_k·pb_k,
    kappa = (po − pe)/(1 − pe); NULL kappa when pe = 1 (both raters
    constant — agreement is vacuous).

    Shape: one label-pair aggregate (cells, not rows), marginal window
    sums over that tiny relation, 1-row fold. Labels outside either
    rater's repertoire contribute pa_k·0 — the union-of-categories
    convention."""
    sub = df.filter(
        F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
    ).select(
        F.col(rater_a_col).alias("__a"), F.col(rater_b_col).alias("__b")
    )
    # three consumers (agreement fold + both marginals) — materialize
    # the tiny cell relation once so the corpus is scanned once
    cells = iter_checkpoint(
        sub.groupBy("__a", "__b").agg(
            F.count(F.lit(1)).cast("double").alias("__o")
        )
    )
    stats = cells.agg(
        F.sum("__o").alias("__n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__o"))).alias(
            "__agree"
        ),
    )
    # chance agreement needs per-LABEL marginals (a label may appear in
    # only one rater's column): aggregate marginals label-wise from the
    # cell relation, then one tiny join on label
    ma = cells.groupBy(F.col("__a").alias("__k")).agg(
        F.sum("__o").alias("__pa")
    )
    mb = cells.groupBy(F.col("__b").alias("__k")).agg(
        F.sum("__o").alias("__pb")
    )
    pe_row = (
        ma.join(mb, "__k")
        .agg(F.sum(F.col("__pa") * F.col("__pb")).alias("__pe_num"))
    )
    out = stats.crossJoin(F.broadcast(pe_row))
    n = F.col("__n")
    po = F.coalesce(F.col("__agree"), F.lit(0.0)) / n
    pe = F.coalesce(F.col("__pe_num"), F.lit(0.0)) / (n * n)
    kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
    return out.select(
        n.cast("bigint").alias("n"),
        F.round(po, round_to).alias("po"),
        F.round(pe, round_to).alias("pe"),
        F.round(kappa, round_to).alias("kappa"),
    )


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    round_to: int = 6,
    buckets: int = 32,
) -> DataFrame:
    """Exact ROC-AUC of a score against a binary label, tie-corrected:
    AUC = U_pos / (n_pos * n_neg) with U from midranks — the
    probability a random positive outscores a random negative, the
    model-eval yardstick next to the retrieval metrics
    (retrieval.retrieval_eval) and the A/B tests (mann_whitney_u,
    which this shares its rank machinery with). Returns ONE row
    (n_pos, n_neg, auc); degenerate inputs (single class, empty)
    yield NULL auc rather than a job failure.

    ``label_col`` must be 0/1 (numeric or boolean — cast to int).
    Scale shape identical to mann_whitney_u: the rank exchange carries
    DISTINCT score values (one aggregate row per value), midranks come
    from a distributed prefix sum (`_dist_prefix_sums` — range
    buckets + broadcast offsets, no single-task global window), so a
    billion-row score column ranks at ~distinct/buckets rows per task.
    No sampling, no sklearn, no driver collect."""
    lab = F.col(label_col).cast("int")
    v = F.col(score_col).cast("double")
    sub = df.filter(v.isNotNull() & lab.isNotNull()).select(
        lab.alias("__y"), v.alias("__v")
    )
    per_val = sub.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum("__y").alias("__tp"),
    )
    ranked = _dist_prefix_sums(
        per_val, "__v", ["__t"], include_current=False, buckets=buckets
    ).withColumn(
        "__midrank",
        F.col("__cum___t").cast("double")
        + (F.col("__t").cast("double") + 1.0) / 2.0,
    )
    stats = ranked.agg(
        F.sum("__tp").cast("double").alias("__np"),
        F.sum(F.col("__t") - F.col("__tp")).cast("double").alias("__nn"),
        F.sum(F.col("__midrank") * F.col("__tp")).alias("__rp"),
    )
    np_, nn = F.col("__np"), F.col("__nn")
    u = F.col("__rp") - np_ * (np_ + 1) / 2
    return stats.select(
        np_.cast("bigint").alias("n_pos"),
        nn.cast("bigint").alias("n_neg"),
        F.round(F.try_divide(u, np_ * nn), round_to).alias("auc"),
    )


def reliability_bins(
    df: DataFrame,
    label_col: str,
    score_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability diagram table for a probabilistic score in [0, 1]
    vs a 0/1 label: per equal-width bin, (bin, n, conf, acc) where
    conf = mean predicted score and acc = empirical positive rate.
    Out-of-range scores clamp into the edge bins (same treatment as
    the PSI monitor's frozen grid); the top edge (score = 1.0) belongs
    to the last bin. One partial-aggregatable groupBy over ``bins``
    groups — shuffle bounded by the bin count, any corpus size."""
    lab = F.col(label_col).cast("double")
    s = F.col(score_col).cast("double")
    # clamp the SCORE into [0, 1] before binning, not the bin after:
    # floor(1e308 * bins) overflows the ANSI int cast (extreme-doubles
    # sweep). Non-finite scores land in an edge bin (NaN/+inf -> top,
    # -inf -> bottom) — deterministic garbage-in treatment; the raw
    # score still flows into conf so the distortion stays visible.
    s_cl = F.least(F.greatest(s, F.lit(0.0)), F.lit(1.0))
    b = F.least(F.floor(s_cl * bins).cast("int"), F.lit(bins - 1))
    return (
        df.filter(s.isNotNull() & lab.isNotNull())
        .select(b.alias("bin"), s.alias("__s"), lab.alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__s"), round_to).alias("conf"),
            F.round(F.avg("__y"), round_to).alias("acc"),
        )
    )


def calibration_report(
    df: DataFrame,
    label_col: str,
    score_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """One-row calibration summary of a [0, 1] score vs a 0/1 label:
    (n, ece, mce, brier). ECE = sum over bins of (n_b/N)·|acc-conf|
    (expected calibration error), MCE = max bin gap, Brier =
    mean (score - label)^2. The quality-classifier health check a
    curation pipeline runs next to roc_auc before trusting scores as
    sampling weights (filters.weighted_sample_k) or gate thresholds.

    Two bounded aggregates: the bin table (``bins`` groups) plus a
    global Brier pass, joined on a literal — no windows, no UDFs.
    Empty input yields one row of NULLs via try_divide."""
    lab = F.col(label_col).cast("double")
    s = F.col(score_col).cast("double")
    # bin stats are rounded (6 dp) BEFORE the gap algebra on purpose:
    # that makes the ECE/MCE definition engine-exact (a 2000-double avg
    # differs across engines in the last ulp; the rounded value doesn't)
    binned = reliability_bins(df, label_col, score_col, bins, round_to=round_to)
    per_bin = binned.agg(
        F.sum("n").alias("__n"),
        F.sum(
            F.col("n").cast("double") * F.abs(F.col("acc") - F.col("conf"))
        ).alias("__gapsum"),
        F.max(F.abs(F.col("acc") - F.col("conf"))).alias("__mce"),
    )
    brier = (
        df.filter(s.isNotNull() & lab.isNotNull())
        .agg(F.avg((s - lab) * (s - lab)).alias("__brier"))
    )
    return per_bin.join(brier, F.lit(True)).select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n"),
        F.round(F.try_divide(F.col("__gapsum"), F.col("__n")), round_to).alias("ece"),
        F.round(F.col("__mce"), round_to).alias("mce"),
        F.round(F.col("__brier"), round_to).alias("brier"),
    )
