"""Aggregation operators (SURVEY.md §2.4, A1-A14).

Behavioral reference: ckpronto/datamine_v2.0 EDA + CPD aggregates
(``STEP 3 - EDA Analysis/debug_notebook_corrected.py:113-170``,
``STEP 5 - CPD/05_cpd_orchestrator_polars.py:262-276``).

Scale notes:
- Every groupBy here benefits from Spark's partial (map-side) aggregation
  automatically; no custom combiners needed.
- Exact percentiles require a full sort-per-group — exposed for oracle
  parity, with `approx_percentile` as the 100 TB default.
- The 5 s tumbling bucket is the algorithmic prerequisite that keeps PELT
  tractable (10× row reduction before the O(n^2) kernel).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _join_back_nullsafe(
    df: DataFrame, stats: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Join per-group stats back onto the input rows with NULL-safe key
    equality. ``groupBy`` collects NULL-keyed rows into a NULL group,
    but a plain equi join-back silently DROPS them (NULL == NULL is not
    true) — rows with a NULL stratum would vanish from the output
    instead of rejoining their own group's stats. ``eqNullSafe`` (<=>)
    is still an equi-join predicate to Spark, so the join stays a
    co-partitioned hash join, not a BNLJ. The stats side's key columns
    are renamed before the join and dropped after, so the output keeps
    exactly the input's key columns."""
    keys = list(keys)
    renamed = stats.select(
        *[F.col(k).alias(f"__jk{i}") for i, k in enumerate(keys)],
        *[c for c in stats.columns if c not in keys],
    )
    cond = None
    for i, k in enumerate(keys):
        c = F.col(k).eqNullSafe(F.col(f"__jk{i}"))
        cond = c if cond is None else (cond & c)
    return df.join(renamed, cond).drop(
        *[f"__jk{i}" for i in range(len(keys))]
    )


def global_stats(df: DataFrame, col: str, distinct_col: str | None = None) -> DataFrame:
    """A1: COUNT/MIN/MAX/COUNT(DISTINCT) in one pass
    (01_ingest_raw_telemetry.py:319-326)."""
    aggs = [
        F.count(F.lit(1)).alias("row_count"),
        F.min(col).alias("min_val"),
        F.max(col).alias("max_val"),
    ]
    if distinct_col is not None:
        aggs.append(F.countDistinct(distinct_col).alias("distinct_count"))
    return df.agg(*aggs)


def grouped_stats(
    df: DataFrame, keys: Sequence[str], value: str, round_to: int = 4
) -> DataFrame:
    """A2: per-group count/avg/stddev/min/max with ROUND
    (debug_notebook_corrected.py:113-133)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(value), round_to).alias("avg_val"),
        F.round(F.stddev(value), round_to).alias("stddev_val"),
        F.min(value).alias("min_val"),
        F.max(value).alias("max_val"),
    )


def conditional_counts(
    df: DataFrame, keys: Sequence[str], conditions: dict[str, Column]
) -> DataFrame:
    """A3: ``COUNT(*) FILTER (WHERE cond)`` — one output column per named
    condition (05_load_candidates_to_db.py:244-252)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.count(F.when(cond, F.lit(1))).alias(name)
        for name, cond in conditions.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def _pct_name(q: float) -> str:
    """Column name for quantile q without int() truncation (0.29 would
    become 'p28' via float error) or sub-percent collisions (0.99 and
    0.999 both mapped to 'p99'): p25, p50, p99, p99_9."""
    return "p" + ("%g" % (q * 100)).replace(".", "_").replace("-", "m")


def exact_percentiles(
    df: DataFrame, keys: Sequence[str], value: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """A4 (exact): ``PERCENTILE_CONT(q) WITHIN GROUP`` parity — Spark's
    ``percentile`` uses the same linear interpolation
    (debug_notebook_corrected.py:167-170)."""
    aggs = [
        F.percentile(F.col(value), F.lit(q)).alias(_pct_name(q))
        for q in quantiles
    ]
    return df.groupBy(*keys).agg(*aggs)


# Plan-estimated input bytes above which exact_percentiles_sorted
# switches from the one-sort layout (one task per group — optimal at
# small inputs: 5 jobs, one narrow exchange) to the histogram-pruned
# two-pass (parallel INSIDE groups, ~12 jobs of driver latency that a
# small input never amortizes; measured at sf0.1: two-pass 2.19 s vs
# sort 1.68 s, while the serialized sort stage only costs 0.4 s there).
# The crossover is where one group's sort stops fitting a single task's
# time budget: at ~50 MB/s of single-core sort throughput, 256 MB of
# input means multi-second stragglers even split over a handful of
# groups — exactly when paying ~1 s of extra scheduling buys
# buckets-way parallelism. Env-overridable for cluster tuning; 0 forces
# two-pass (the skew test pins both paths bit-identical).
PCT_SORT_MAX_BYTES = 256 * 1024 * 1024


def exact_percentiles_sorted(
    df: DataFrame, keys: Sequence[str], value: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    buckets: int = 64,
    two_pass: str = "auto",
) -> DataFrame:
    """A4 (exact, adaptive): PERCENTILE_CONT via exact order statistics
    + linear interpolation between the two straddling ranks — same
    results as :func:`exact_percentiles`, different physical plan for
    few/large groups where the per-partition value-count hashmap
    degenerates (high-cardinality values).

    Two result-identical layouts, chosen by plan-estimated input size
    (``two_pass='auto'``; 'always'/'never' pin a layout). When the plan
    statistics are unreachable (e.g. under Spark Connect), ``auto``
    always picks two-pass, which costs about 0.5 s of extra job
    latency on a tiny input:

    - **sort** (small inputs): one narrow shuffle + per-group
      row_number — one task per group, minimal job count. Optimal
      exactly while a group sorts in well under a task's time budget.
    - **two-pass** (above PCT_SORT_MAX_BYTES, or a
      SPARK_PCT_SORT_MAX_BYTES override): a giant group must not
      serialize onto one core, so (1) per-group (min, max, count) —
      map-side combinable, skew-immune; (2) histogram pass: values map
      to ``buckets`` monotone buckets of [min, max], per-(group, bucket)
      counts + a cumulative sum over the ≤``buckets`` histogram rows
      locate each target rank floor/ceil(1 + (n-1)q) in its bucket with
      its LOCAL rank; (3) pick pass: only located buckets survive
      (≲ 2·|q|/buckets of the group), ranked per (group, bucket) — each
      task holds ~n/buckets rows, no single-task-per-group stage
      remains. Monotone bucketing (same double-cast affine map for
      every row of a group) means bucket-local rank + preceding-bucket
      count equals the global rank exactly; the interpolation
      expression is shared, so outputs are bit-identical (pinned by
      test_exact_percentiles_sorted_skewed_parallel_shape). All-equal
      groups (min == max, incl. n == 1) resolve from the stats row
      alone — the identical-value mega-group costs nothing.

    `approx_percentile` remains the 100 TB default.
    """
    keys = list(keys)
    if not keys:
        # grouped-only operator (this has always been the contract).
        # Global percentiles: exact_percentiles / approx_percentiles.
        raise ValueError(
            "exact_percentiles_sorted needs at least one key; "
            "use exact_percentiles for global quantiles"
        )
    if two_pass not in ("auto", "always", "never"):
        raise ValueError(f"two_pass must be auto/always/never, got {two_pass!r}")
    src = df.select(*keys, F.col(value).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    if two_pass == "auto":
        import os

        from datamine_v2_0_spark.operators.dedup import (
            _parse_bytes, _plan_scan_bytes,
        )

        limit = _parse_bytes(
            os.environ.get("SPARK_PCT_SORT_MAX_BYTES", PCT_SORT_MAX_BYTES),
            "SPARK_PCT_SORT_MAX_BYTES",
        )
        size = _plan_scan_bytes(src)
        use_two_pass = size is None or size > limit
    else:
        use_two_pass = two_pass == "always"
    if use_two_pass:
        out = _percentiles_two_pass(src, keys, quantiles, buckets)
    else:
        out = _percentiles_one_sort(src, keys, quantiles)
    # groups whose value column is entirely NULL vanished at the
    # isNotNull pre-filter; re-attach them with NULL percentiles to match
    # exact_percentiles / PERCENTILE_CONT semantics. groupBy keeps a
    # NULL key as its own group, which a plain equi join would drop.
    missing = (
        df.groupBy(*keys).agg(F.count(value).alias("__c"))
        .filter(F.col("__c") == 0).select(*keys)
    )
    return out.unionByName(missing, allowMissingColumns=True)


def _percentiles_one_sort(src, keys, quantiles) -> DataFrame:
    """One narrow shuffle sort + row_number per group (small inputs)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("__v")
    # group size via an unbounded window over the SAME shuffle — no
    # separate aggregate + broadcast join stage
    w_all = Window.partitionBy(*keys)
    ranked = src.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    # target rank pos = 1 + (n-1)q; keep only rows at floor/ceil of any
    # target, then one tiny groupBy interpolates
    keeps = []
    for q in quantiles:
        pos = 1 + (F.col("__n") - 1) * F.lit(q)
        keeps.append(
            (F.col("__rn") == F.floor(pos)) | (F.col("__rn") == F.ceil(pos))
        )
    kept = ranked.filter(sum_or(keeps))
    return kept.groupBy(*keys).agg(
        *_pct_interp_aggs(quantiles, rank_col="__rn")
    )


def _pct_interp_aggs(quantiles, rank_col: str):
    """The shared interpolation aggregates: v at floor/ceil of
    pos = 1 + (n-1)q, linearly interpolated. Shared by both layouts so
    type coercion and float rounding are identical by construction."""
    aggs = []
    for q in quantiles:
        pos = 1 + (F.col("__n") - 1) * F.lit(q)
        lo, hi = F.floor(pos), F.ceil(pos)
        v_lo = F.max(F.when(F.col(rank_col) == lo, F.col("__v")))
        v_hi = F.max(F.when(F.col(rank_col) == hi, F.col("__v")))
        # __n is constant per group; re-derive pos from max(__n) so the
        # interpolation fraction is a valid aggregate expression
        agg_pos = 1 + (F.max("__n") - 1) * F.lit(q)
        frac = agg_pos - F.floor(agg_pos)
        aggs.append((v_lo + (v_hi - v_lo) * frac).alias(_pct_name(q)))
    return aggs


def _percentiles_two_pass(src, keys, quantiles, buckets) -> DataFrame:
    """Histogram-pruned two-pass (see exact_percentiles_sorted)."""
    from pyspark.sql import Window

    stats = src.groupBy(*keys).agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )

    # constant groups: every rank picks the same value; keep the exact
    # interpolation expression shape (v_lo + (v_hi - v_lo) * frac with
    # v_hi == v_lo) so type coercion and rounding match the main path
    const_out = stats.filter(F.col("__lo") == F.col("__hi")).select(
        *keys,
        *[
            (F.col("__lo") + (F.col("__lo") - F.col("__lo")) * F.lit(0.0))
            .alias(_pct_name(q))
            for q in quantiles
        ],
    )
    var = stats.filter(F.col("__lo") != F.col("__hi"))

    # monotone bucket id over the group's value range (double-cast affine
    # map; IEEE subtraction/division-by-positive and decimal->double
    # casts are monotone, so bucket order agrees with value order and
    # preceding-bucket counts compose into exact global ranks)
    nb = F.lit(int(buckets))
    b_expr = F.greatest(
        F.lit(0),
        F.least(
            F.floor(
                (F.col("__v").cast("double") - F.col("__lo").cast("double"))
                / (F.col("__hi").cast("double") - F.col("__lo").cast("double"))
                * nb
            ).cast("int"),
            nb.cast("int") - F.lit(1),
        ),
    )
    # key joins are NULL-safe: a NULL group key is a group like any other
    srcb = _join_back_nullsafe(src, var.select(*keys, "__lo", "__hi"), keys).select(
        *keys, "__v", b_expr.alias("__b")
    )
    hist = srcb.groupBy(*keys, "__b").agg(F.count(F.lit(1)).alias("__nb"))
    w_cum = Window.partitionBy(*keys).orderBy("__b")
    cum = hist.withColumn(
        "__cb",
        F.coalesce(
            F.sum("__nb").over(
                w_cum.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    # needed global ranks per group: floor/ceil of every target position
    rank_exprs = []
    for q in quantiles:
        pos = 1 + (F.col("__n") - 1) * F.lit(q)
        rank_exprs += [F.floor(pos), F.ceil(pos)]
    targets = var.select(
        *keys, "__n",
        F.explode(F.array_distinct(F.array(*rank_exprs))).alias("__r"),
    )
    # locate each target rank's bucket: preceding count < r <= through
    located = _join_back_nullsafe(targets, cum, keys).filter(
        (F.col("__r") > F.col("__cb"))
        & (F.col("__r") <= F.col("__cb") + F.col("__nb"))
    ).select(*keys, "__b", "__n", "__r", (F.col("__r") - F.col("__cb")).alias("__lr"))

    # pick pass: only located buckets survive; ranking is per
    # (group, bucket) — parallel across and INSIDE groups
    needed = located.select(*keys, "__b").distinct()
    cands = _join_back_nullsafe(srcb, needed, keys + ["__b"])
    w_loc = Window.partitionBy(*(keys + ["__b"])).orderBy("__v")
    ranked = cands.withColumn("__lrn", F.row_number().over(w_loc))
    picked = _join_back_nullsafe(ranked, located, keys + ["__b"]).filter(
        F.col("__lrn") == F.col("__lr")
    )

    # same interpolation expressions as the sort form, keyed on the
    # global rank __r instead of a global row_number
    out_var = picked.groupBy(*keys).agg(
        *_pct_interp_aggs(quantiles, rank_col="__r")
    )
    return out_var.unionByName(const_out)


def sum_or(conds: Sequence[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def approx_percentiles(
    df: DataFrame, keys: Sequence[str], value: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 10000,
) -> DataFrame:
    """A4 (approx): the 100 TB default — single-pass KLL-style sketch, no
    per-group sort."""
    aggs = [
        F.approx_percentile(F.col(value), F.lit(q), F.lit(accuracy)).alias(
            _pct_name(q)
        )
        for q in quantiles
    ]
    return df.groupBy(*keys).agg(*aggs)


def date_distribution(df: DataFrame, ts: str) -> DataFrame:
    """A5: per-day row counts for batch planning
    (02_raw_telemetry_transform.py:206-263)."""
    return (
        df.groupBy(F.to_date(ts).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("day")
    )


def frequency_topk(df: DataFrame, keys: Sequence[str], k: int = 20) -> DataFrame:
    """A6: multi-dim frequency cube, top-k by count (checkpoint nb cell 19)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), *keys)
        .limit(k)
    )


def hourly_profile(df: DataFrame, ts: str) -> DataFrame:
    """A7: activity by (day, hour, dow) (checkpoint nb cell 24).

    dow follows ISO via ``dayofweek`` (1=Sunday, Spark/ANSI semantics) —
    callers needing Postgres DOW (0=Sunday) subtract 1."""
    return df.groupBy(
        F.to_date(ts).alias("day"),
        F.hour(ts).alias("hour"),
        F.dayofweek(ts).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))


def having(df: DataFrame, keys: Sequence[str], min_count: int) -> DataFrame:
    """A8: ``GROUP BY ... HAVING COUNT(*) >= n`` (05_cpd_pipeline.sql:39-43)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def ordered_array_agg(
    df: DataFrame, keys: Sequence[str], order_col: str, value: str
) -> DataFrame:
    """A9: ``ARRAY_AGG(x ORDER BY ts)`` — collect (order, value) structs,
    sort by order key, project the values (05_cpd_pipeline.sql:28-43).

    Scale note: materializes each group as one array — only for bounded
    groups (a device-day). The CPD path avoids this entirely via
    applyInPandas."""
    return df.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col, value))),
            lambda s: s[value],
        ).alias("vals")
    )


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """A10: ``SELECT DISTINCT x ORDER BY 1`` (04_feature_engineering.py:86-103)."""
    return df.select(col).distinct().orderBy(col)


def tumbling_agg(
    df: DataFrame,
    ts: str,
    duration: str,
    aggs: Sequence[Column],
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """A11: tumbling-window time aggregation, left-closed buckets —
    ``group_by_dynamic(every='5s', closed='left')`` parity
    (05_cpd_orchestrator_polars.py:262-276).

    Emits ``bucket_start`` (the window's inclusive left edge)."""
    win = F.window(ts, duration)
    return (
        df.groupBy(*extra_keys, win.alias("w"))
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )


def hll_bucket_sketches(
    df: DataFrame,
    ts: str,
    id_col: str,
    bucket_seconds: int = 86400,
    lg_k: int = 12,
) -> DataFrame:
    """Per-bucket mergeable HLL sketches: (bucket, sketch binary).

    The materialized form distinct counts need at 100 TB: COUNT(DISTINCT)
    does not re-aggregate (day counts can't sum to a week), but
    DataSketches HLL unions losslessly — store one small sketch per
    bucket and every coarser rollup is a union, never a rescan."""
    bsec = F.lit(int(bucket_seconds)).cast("long")
    bucket = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col(ts)) / bsec) * bsec).cast("long")
    )
    return df.groupBy(bucket.alias("bucket")).agg(
        F.hll_sketch_agg(F.col(id_col), F.lit(lg_k)).alias("sketch")
    )


def hll_rollup(
    sketches: DataFrame, period_seconds: int, bucket_col: str = "bucket"
) -> DataFrame:
    """Roll per-bucket HLL sketches up to a coarser period WITHOUT
    touching the raw data: union the sketches per period and estimate.
    Returns (period_start, approx_distinct)."""
    psec = F.lit(int(period_seconds)).cast("long")
    period = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col(bucket_col)) / psec) * psec).cast("long")
    )
    return (
        sketches.groupBy(period.alias("period_start"))
        .agg(F.hll_union_agg("sketch").alias("__u"))
        .select(
            "period_start",
            F.hll_sketch_estimate("__u").alias("approx_distinct"),
        )
    )


def hll_portable_registers(
    df: DataFrame,
    ts: str,
    id_col: str,
    bucket_seconds: int = 86400,
    lg_k: int = 8,
) -> DataFrame:
    """Engine-portable HLL register arrays per time bucket:
    (bucket, register, rho_max) — Flajolet et al., "HyperLogLog" (2007),
    materialized as plain integer rows instead of an opaque binary.

    Unlike :func:`hll_bucket_sketches` (DataSketches binaries — the
    production default at 100 TB), every piece is reproducible in ANY
    SQL engine from the same md5 bytes, so the SKETCH CONTENT itself is
    oracle-checkable bit-for-bit, not just its estimate: hash = the
    md5-60 family (first 15 hex digits of md5 of the id rendered as
    text — the cross-engine recipe sha-certified by scalar_hash_id),
    register = low ``lg_k`` hash bits (bitwise AND — no float detour),
    rho = leading-zero count of the remaining ``60 - lg_k``-bit window
    + 1 via the integer-exact ``W + 1 - length(bin(x))`` formulation
    (no floating log at rank boundaries). Per (bucket, register) the
    MAX rho is kept — m·(6-bit) registers per bucket, mergeable to any
    coarser period by re-MAXing (:func:`hll_portable_rollup`), never a
    rescan."""
    m = 1 << lg_k
    w = 60 - lg_k
    bsec = F.lit(int(bucket_seconds)).cast("long")
    bucket = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col(ts)) / bsec) * bsec).cast("long")
    )
    h = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    )
    rest = F.shiftright(h, lg_k)
    rho = F.when(rest == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rest))
    )
    return (
        df.select(
            bucket.alias("bucket"),
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("register"),
            rho.alias("__rho"),
        )
        .groupBy("bucket", "register")
        .agg(F.max("__rho").cast("int").alias("rho_max"))
    )


def hll_portable_rollup(
    registers: DataFrame,
    period_seconds: int,
    bucket_col: str = "bucket",
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Union portable HLL register arrays up to a coarser period:
    per-register MAX — the HLL union — keeping the register rows
    (period_start, register, rho_max). Estimate separately via
    :func:`hll_portable_estimate`.

    Rolling up the registers equals re-sketching the raw data ONLY
    when the periods NEST the source buckets: both grids are
    epoch-aligned floors, so every bucket maps wholly into one period
    exactly when ``period_seconds`` is a whole multiple of the
    registers' original ``bucket_seconds`` (MAX is associative across
    whole buckets; a non-nesting period — e.g. 100000 s over 86400 s
    buckets — splits a bucket's ids across two periods but credits its
    register MAXes to only one, silently diverging from a direct
    sketch). Pass ``bucket_seconds`` to have the nesting validated;
    the registered query and tests do."""
    if bucket_seconds is not None and period_seconds % bucket_seconds:
        raise ValueError(
            f"hll_portable_rollup: period_seconds={period_seconds} does "
            f"not nest bucket_seconds={bucket_seconds} — the rollup "
            f"would not equal re-sketching the raw data"
        )
    psec = F.lit(int(period_seconds)).cast("long")
    period = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col(bucket_col)) / psec) * psec).cast("long")
    )
    return (
        registers.groupBy(period.alias("period_start"), "register")
        .agg(F.max("rho_max").alias("rho_max"))
    )


def hll_portable_estimate(
    registers: DataFrame,
    lg_k: int = 8,
    group_col: str = "period_start",
    round_to: int = 4,
) -> DataFrame:
    """(group, approx_distinct) from portable register rows, with the
    standard HLL corrections: alpha_m bias factor and the small-range
    linear-counting switch (E_raw <= 2.5m with empty registers →
    m·ln(m/V)). The 2^-rho sum is exact in binary floating point;
    missing register rows count as rho = 0 (2^0 = 1 each).

    alpha_m uses the HLL paper's per-m constants for the small
    register counts (0.673 / 0.697 / 0.709 for m = 16 / 32 / 64) and
    the closed form 0.7213/(1 + 1.079/m) for m >= 128 — Flajolet et
    al. (2007) §4 define the algorithm for m >= 16, so lg_k < 4
    raises rather than estimating with a biased constant."""
    if lg_k < 4:
        raise ValueError(
            f"hll_portable_estimate: lg_k={lg_k} < 4 — HLL's bias "
            f"corrections are defined for m >= 16 registers"
        )
    m = 1 << lg_k
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    stats = registers.groupBy(group_col).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho_max"))).alias("__s"),
        F.count(F.lit(1)).alias("__present"),
    )
    zeros = (F.lit(m) - F.col("__present")).cast("double")
    raw = F.lit(float(alpha) * m * m) / (F.col("__s") + zeros)
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lc).otherwise(raw)
    return stats.select(
        group_col, F.round(est, round_to).alias("approx_distinct")
    )


def grouped_mad(
    df: DataFrame, keys: Sequence[str], value: str, round_to: int = 6
) -> DataFrame:
    """Per-group robust center/spread: (keys..., n, median, mad) where
    mad = median(|x - median|) — the outlier-resistant stddev used for
    telemetry anomaly thresholds (±k·MAD instead of ±k·σ, immune to the
    very outliers being hunted).

    Two exact-median passes: group medians (one shuffle on keys), join
    back (co-partitioned on the same keys, NULL-safe so a NULL stratum
    keeps its rows instead of silently dropping them), deviations,
    second median. Spark's percentile(0.5) is the exact interpolated
    median, matching SQL engines' median()."""
    keys = list(keys)
    med = df.groupBy(*keys).agg(
        F.expr(f"percentile({value}, 0.5)").alias("__med"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = _join_back_nullsafe(df, med, keys).withColumn(
        "__adev", F.abs(F.col(value) - F.col("__med"))
    )
    return (
        dev.groupBy(*keys)
        .agg(
            F.first("n").alias("n"),
            F.round(F.first("__med"), round_to).alias("median"),
            F.round(F.expr("percentile(__adev, 0.5)"), round_to).alias("mad"),
        )
    )


def robust_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    z_thresh: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Per-group robust outlier detection: rows whose modified z-score
    |0.6745·(x − median)/MAD| exceeds ``z_thresh`` (the Iglewicz–Hoaglin
    rule — the MAD-based test that, unlike ±k·σ, is immune to the very
    outliers being hunted). Returns the flagged input rows plus
    (median, mad, robust_z).

    Builds on ``grouped_mad`` (two exact-median passes), then one
    co-partitioned NULL-safe join back on ``keys`` — groups where
    MAD = 0 (over half the group identical) yield no finite score and
    are skipped; a NULL stratum is scored within its own group like any
    other."""
    keys = list(keys)
    stats = grouped_mad(df, keys, value, round_to=round_to).select(
        *keys, "median", "mad"
    )
    z = F.lit(0.6745) * (F.col(value) - F.col("median")) / F.col("mad")
    return (
        _join_back_nullsafe(df, stats, keys)
        .filter((F.col("mad") > 0) & (F.abs(z) > F.lit(float(z_thresh))))
        .withColumn("robust_z", F.round(z, round_to))
    )


def hopping_agg(
    df: DataFrame,
    ts: str,
    duration: str,
    slide: str,
    aggs: Sequence[Column],
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Hopping (sliding) window aggregation: each event contributes to
    ``duration/slide`` overlapping windows, start-aligned to the slide.
    The batch counterpart of the streaming sliding window — same
    ``F.window(ts, duration, slide)`` bucketing, so batch and stream
    rollups agree bucket-for-bucket.

    Emits ``window_start``. Plan: the window expansion is a Generate
    (explode) of the per-row bucket list, then one hash-agg shuffle —
    shuffle volume is duration/slide × input, the unavoidable cost of
    overlapping windows (pre-aggregate per slide-granule and re-window
    if that multiplier ever dominates)."""
    win = F.window(ts, duration, slide)
    return (
        df.groupBy(*extra_keys, win.alias("w"))
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )


def refresh_tumbling(
    materialized: DataFrame,
    raw: DataFrame,
    delta: DataFrame,
    ts: str,
    duration: str,
    aggs: Sequence[Column],
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Continuous-aggregate maintenance (hypertable-rollup refresh):
    given yesterday's ``materialized`` tumbling rollup, the full ``raw``
    table, and the newly-arrived ``delta`` rows, recompute ONLY the
    buckets the delta touches from raw and upsert them over the
    materialized rows — the refreshed table equals a full recompute
    (which is exactly what the oracle asserts), but the work is
    proportional to |delta buckets|, not table size.

    Plan shape at scale: the affected-bucket set (tiny) broadcasts into
    a semi join that prunes the raw scan — with raw partitioned by time
    this is partition pruning, so refresh cost is |delta| + touched
    partitions."""
    keys = list(extra_keys) + ["bucket_start"]
    affected = (
        delta.select(F.window(ts, duration).start.alias("__bs")).distinct()
    )
    # project the bucket onto raw first — a window expression can't sit
    # inside a join condition
    touched_raw = (
        raw.withColumn("__bs", F.window(ts, duration).start)
        .join(F.broadcast(affected), "__bs", "left_semi")
        .drop("__bs")
    )
    recomputed = tumbling_agg(touched_raw, ts, duration, aggs, extra_keys)
    from datamine_v2_0_spark.operators.joins import upsert

    # recomputed buckets always win over the stale materialized rows
    out = upsert(
        materialized.withColumn("__gen", F.lit(0)),
        recomputed.withColumn("__gen", F.lit(1)),
        keys,
        "__gen",
    )
    return out.drop("__gen")


def crosstab_pivot(df: DataFrame, row_key: str, col_key: str, values: Sequence[str]) -> DataFrame:
    """A13: ``groupby(a,b).size().unstack()`` — pivot with an explicit value
    list (always pass `values`: it skips the extra distinct-scan Spark
    otherwise runs, and pins output columns)."""
    return df.groupBy(row_key).pivot(col_key, list(values)).count()


def describe_stats(
    df: DataFrame, cols: Sequence[str], round_to: int = 4
) -> DataFrame:
    """A13: ``describe()``/``summary()`` as a deterministic long-format
    table — one row per column with count/mean/stddev/min/max (the
    pandas ``groupby().describe()`` surface, run_advanced_eda.py:83-96).
    One aggregation pass over all columns, then an unpivot."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"__n_{c}"),
            F.round(F.avg(c), round_to).alias(f"__avg_{c}"),
            F.round(F.stddev(c), round_to).alias(f"__std_{c}"),
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__n_{c}").cast("long").alias("n"),
            F.col(f"__avg_{c}").cast("double").alias("mean"),
            F.col(f"__std_{c}").cast("double").alias("stddev"),
            F.col(f"__min_{c}").cast("double").alias("min_val"),
            F.col(f"__max_{c}").cast("double").alias("max_val"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def integrity_report(
    df: DataFrame,
    key: str,
    not_null_cols: Sequence[str],
    ts_col: str | None = None,
) -> DataFrame:
    """A14: post-load integrity aggregates — total, distinct-key,
    per-column null counts, and (with ``ts_col``) the loaded time range —
    the reference's full post-load check bundle
    (05_load_candidates_to_db.py:197-259: expected count, PK uniqueness,
    null criticals, time range)."""
    aggs = [
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct(key).alias("distinct_keys"),
    ]
    aggs += [
        F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"null_{c}")
        for c in not_null_cols
    ]
    if ts_col is not None:
        aggs += [
            F.min(ts_col).alias("time_min"),
            F.max(ts_col).alias("time_max"),
        ]
    return df.agg(*aggs)


def ab_welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups of
    ``value_col`` — the A/B comparison that doesn't assume equal
    variances or sizes. Returns ONE row: (n_a, n_b, mean_a, mean_b,
    t_stat, df_welch) with the Welch–Satterthwaite degrees of freedom;
    compare |t| against the t-distribution for significance.

    Single scan, ONE conditional aggregate — both groups' counts, means,
    and sample variances come out of the same partial-agg pass; the test
    statistic folds in as scalar arithmetic on the 1-row result.
    """
    v = F.col(value_col).cast("double")
    # counts over non-NULL SAMPLES, not rows: mean/variance already skip
    # NULLs, so dividing by the row count would understate the standard
    # error and inflate |t| whenever value_col has NULLs
    in_a = (F.col(group_col) == F.lit(group_a)) & v.isNotNull()
    in_b = (F.col(group_col) == F.lit(group_b)) & v.isNotNull()
    agg = df.agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        F.avg(F.when(in_a, v)).alias("__ma"),
        F.avg(F.when(in_b, v)).alias("__mb"),
        F.var_samp(F.when(in_a, v)).alias("__va"),
        F.var_samp(F.when(in_b, v)).alias("__vb"),
    )
    sa = F.col("__va") / F.col("n_a")
    sb = F.col("__vb") / F.col("n_b")
    # try_divide: two constant (zero-variance) groups must yield NULL
    # stats, not an ANSI DIVIDE_BY_ZERO that aborts the job
    t = F.try_divide(F.col("__ma") - F.col("__mb"), F.sqrt(sa + sb))
    dof = F.try_divide(
        (sa + sb) * (sa + sb),
        sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round("__ma", round_to).alias("mean_a"),
        F.round("__mb", round_to).alias("mean_b"),
        F.round(t, round_to).alias("t_stat"),
        F.round(dof, 2).alias("df_welch"),
    )


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    rank_keys: Sequence[str],
    value: Column,
    k: int,
    value_name: str = "metric",
) -> DataFrame:
    """Top-k entities per group by an aggregated metric: aggregate
    ``value`` over (keys + rank_keys), then rank within each group and
    keep k — the 'top N users per segment' shape. Two stages, both on
    the same keys prefix: one partial-agg shuffle, one per-group window
    over the (small) aggregated table. Ties break on the rank keys for
    determinism.
    """
    from pyspark.sql import Window

    keys, rank_keys = list(keys), list(rank_keys)
    aggd = df.groupBy(*keys, *rank_keys).agg(value.alias(value_name))
    w = Window.partitionBy(*keys).orderBy(
        F.desc(value_name), *[F.col(c) for c in rank_keys]
    )
    return (
        aggd.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def histogram(
    df: DataFrame,
    value: str,
    n_bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Equal-width histogram of ``value``: (bin, bin_lo, bin_hi, n) with
    every bin present (observed or not). Bounds default to the data
    min/max (1-row aggregate broadcast — no driver collect); values at
    the upper edge land in the last bin. One scan + one tiny grid join —
    the EDA distribution profile at any scale.
    """
    v = F.col(value).cast("double")
    stats = df.agg(
        (F.lit(float(lo)) if lo is not None else F.min(v)).alias("__lo"),
        (F.lit(float(hi)) if hi is not None else F.max(v)).alias("__hi"),
    )
    # constant column: zero width would floor(x/0) into an ANSI error —
    # degrade to width 1 so every value lands in bin 0 (same guard as
    # zorder_key)
    width = F.when(
        F.col("__hi") > F.col("__lo"),
        (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins)),
    ).otherwise(F.lit(1.0))
    b = F.least(
        F.greatest(
            F.floor((v - F.col("__lo")) / width), F.lit(0).cast("long")
        ),
        F.lit(int(n_bins) - 1).cast("long"),
    )
    counts = (
        df.filter(v.isNotNull())
        .crossJoin(F.broadcast(stats))
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = stats.select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(int(n_bins) - 1).cast("long"))
        ).alias("bin"),
        "__lo",
        "__hi",
    )
    w2 = F.when(
        F.col("__hi") > F.col("__lo"),
        (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins)),
    ).otherwise(F.lit(1.0))
    return grid.join(counts, "bin", "left").select(
        "bin",
        F.round(F.col("__lo") + F.col("bin") * w2, round_to).alias("bin_lo"),
        F.round(F.col("__lo") + (F.col("bin") + 1) * w2, round_to).alias("bin_hi"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )


def stratum_diversity(
    df: DataFrame, stratum_col: str, round_to: int = 6
) -> DataFrame:
    """Corpus-mix diversity metrics over a stratum column: ONE row with
    (n_strata, entropy, entropy_norm, gini) — Shannon entropy (nats),
    entropy normalized by ln(n_strata) (1 = perfectly balanced), and the
    Gini impurity 1 − Σp² of the stratum shares. The one-number answers
    to 'how balanced is this training mix' that the balancing/mixing
    operators (balance_strata, temperature_mix) are tuned against.

    Two tiny aggregates: stratum counts (one partial-agg shuffle), then
    the metrics fold over the counts table."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(F.sum("__n").alias("__t"))
    p = F.col("__n") / F.col("__t")
    per = counts.crossJoin(F.broadcast(tot)).select(
        (p * F.log(p)).alias("__plogp"), (p * p).alias("__p2")
    )
    # try_divide: a single-stratum corpus (ln(1) = 0) must yield NULL
    # entropy_norm, not an ANSI DIVIDE_BY_ZERO — the degenerate
    # one-source mix is exactly the case worth reporting
    return per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.round(-F.sum("__plogp"), round_to).alias("entropy"),
        F.round(
            F.try_divide(
                -F.sum("__plogp"),
                F.log(F.count(F.lit(1)).cast("double")),
            ),
            round_to,
        ).alias("entropy_norm"),
        F.round(F.lit(1.0) - F.sum("__p2"), round_to).alias("gini"),
    )


def corr_matrix(
    df: DataFrame, cols: Sequence[str], round_to: int = 6
) -> DataFrame:
    """Pairwise Pearson correlations over ``cols``: one row per ordered
    pair (col_a < col_b by position) with (col_a, col_b, corr, n) — the
    EDA feature-redundancy screen. ALL d·(d-1)/2 coefficients come out
    of ONE aggregate on a single scan (each corr is a pair of co-moment
    accumulators, so the pass stays map-side-combinable); the unpivot to
    rows is a d²-literal stack of the 1-row result.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("corr_matrix needs >= 2 columns")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    def _corr(a: str, b: str):
        # explicit co-moment form with try_divide: Spark's fused corr
        # throws DIVIDE_BY_ZERO under ANSI when a column has zero
        # variance, where SQL engines return NULL
        x, y = F.col(a).cast("double"), F.col(b).cast("double")
        return F.try_divide(
            F.covar_samp(x, y), F.stddev_samp(x) * F.stddev_samp(y)
        )

    aggs = [
        F.round(_corr(a, b), round_to).alias(f"__c_{a}_{b}")
        for a, b in pairs
    ] + [F.count(F.lit(1)).alias("__n")]
    one = df.agg(*aggs)
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col(f"__c_{a}_{b}").alias("corr"),
                )
                for a, b in pairs
            ]
        )
    )
    return one.select(stacked.alias("__p"), F.col("__n").alias("n")).select(
        "__p.col_a", "__p.col_b", "__p.corr", "n"
    )


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    lower: float = 0.05,
    upper: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Per-group winsorization: clamp ``value`` to its group's
    [lower, upper] exact percentiles — the standard heavy-tail taming
    pass before metric aggregation (cap, don't drop: outlier rows keep
    their other columns). Returns the input rows plus
    (lo_cap, hi_cap, value_winsorized).

    Shape: one exact-percentile aggregate per group (partial-agg
    percentile, 2 doubles per group on the shuffle) joined back
    co-partitioned on the grouping key, NULL-safe so a NULL stratum is
    capped within its own group rather than silently dropped — the same
    two-pass plan as `grouped_mad`/`robust_outliers`; the corpus never
    sorts globally."""
    keys = list(keys)
    v = F.col(value).cast("double")
    caps = df.groupBy(*keys).agg(
        F.percentile(v, F.lit(float(lower))).alias("lo_cap"),
        F.percentile(v, F.lit(float(upper))).alias("hi_cap"),
    )
    out = _join_back_nullsafe(df, caps, keys)
    # greatest/least SKIP null arguments, which would fabricate lo_cap
    # for missing measurements — cap, don't invent: NULL stays NULL
    wz = F.when(
        v.isNotNull(),
        F.least(F.greatest(v, F.col("lo_cap")), F.col("hi_cap")),
    )
    return out.select(
        *df.columns,
        F.round("lo_cap", round_to).alias("lo_cap"),
        F.round("hi_cap", round_to).alias("hi_cap"),
        F.round(wz, round_to).alias("value_winsorized"),
    )
