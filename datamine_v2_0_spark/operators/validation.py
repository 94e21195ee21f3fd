"""Validation-suite operators (SURVEY.md §5 items 2-4): the reference's
correctness harnesses as reusable DataFrame ops.

Behavioral reference: ckpronto/datamine_v2.0 —
- label-vs-ground-truth diff: ``STEP 3 - EDA Analysis/
  validate_with_ground_truth.py:59-101`` (inner merge on (device_id, ts),
  mismatch matrix grouped by (predicted, actual));
- recall with overlap matching: ``STEP 5 - CPD/_archive/
  05_cpd_algorithm_tuning.py:121-139`` (any overlap counts as detected);
- ±tolerance proximity validation: ``claudeinstructions.md:60-84``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint
from datamine_v2_0_spark.operators.joins import asof_nearest_join, overlap_join


def ground_truth_diff(
    predicted: DataFrame,
    truth: DataFrame,
    on: Sequence[str],
    pred_label: str,
    true_label: str,
) -> DataFrame:
    """Confusion matrix of predicted vs hand-labeled rows: inner join on
    the composite key, grouped mismatch counts + agreement flag."""
    j = predicted.join(truth, on=list(on), how="inner")
    return (
        j.groupBy(
            F.col(pred_label).alias("predicted"),
            F.col(true_label).alias("actual"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("match", F.col("predicted") == F.col("actual"))
    )


def overlap_recall(
    truth: DataFrame,
    detected: DataFrame,
    truth_id: str,
    keys: Sequence[tuple[str, str]],
    true_start: str,
    true_end: str,
    det_start: str,
    det_end: str,
) -> DataFrame:
    """Recall via any-overlap matching: a ground-truth window counts as
    detected when >=1 detected segment overlaps it (same key). One output
    row: (n_truth, n_detected, recall). `truth_id` uniquely names each
    truth window."""
    hits = (
        overlap_join(
            truth, detected, keys, true_start, true_end, det_start, det_end
        )
        .select(truth_id)
        .distinct()
    )
    n_truth = truth.select(truth_id).distinct().count()
    n_det = hits.count()
    spark = truth.sparkSession
    recall = float(n_det) / n_truth if n_truth else 0.0
    return spark.createDataFrame(
        [(n_truth, n_det, recall)], "n_truth long, n_detected long, recall double"
    )


def proximity_match(
    truth_events: DataFrame,
    candidates: DataFrame,
    keys: Sequence[tuple[str, str]],
    true_ts: str,
    cand_ts: str,
    tolerance_seconds: float,
    truth_id: str,
) -> DataFrame:
    """±tolerance nearest-candidate validation: each ground-truth event is
    paired with its single closest candidate within the tolerance (the
    reference's ±2 min check) — unmatched truth rows are retained with NULL
    candidate columns so misses are visible."""
    matched = asof_nearest_join(
        truth_events,
        candidates,
        keys,
        true_ts,
        cand_ts,
        tolerance_seconds,
        truth_id,
    )
    return truth_events.join(
        matched.select(
            truth_id, *[c for c in matched.columns if c in candidates.columns]
        ),
        on=truth_id,
        how="left",
    )


def label_windows(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    label: str,
    max_gap_seconds: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """Group consecutive same-label point events into (start, end)
    windows: a new window opens when the label changes or the gap to the
    previous event exceeds ``max_gap_seconds`` (the archived visual
    validator's ground-truth window builder, ``STEP 5 - CPD/_archive/
    05_validate_candidates_visually.py:86-118``). Gaps-and-islands over
    (keys) — one shuffle, no driver loop. Output: keys, label,
    win_start, win_end, n_events. Pass a unique ``tiebreak`` column when
    timestamps can collide so the lag order is total."""
    gap_us = int(max_gap_seconds * 1_000_000)
    order = [ts] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    t_us = F.unix_micros(F.col(ts))
    brk = (
        F.lag(label).over(w).isNull()
        | (F.lag(label).over(w) != F.col(label))
        | ((t_us - F.lag(t_us).over(w)) > gap_us)
    )
    grp = F.sum(brk.cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__grp", grp)
        .groupBy(*keys, F.col(label).alias("label"), F.col("__grp"))
        .agg(
            F.min(ts).alias("win_start"),
            F.max(ts).alias("win_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__grp")
    )


def candidate_clustering(
    truth_windows: DataFrame,
    candidates: DataFrame,
    keys: Sequence[tuple[str, str]],
    win_start: str,
    win_end: str,
    cand_ts: str,
    near_seconds: float,
) -> DataFrame:
    """One-row clustering summary of detected candidates vs ground-truth
    windows (``05_validate_candidates_visually.py:253-312``):
    in-window / near-window (±``near_seconds``) candidate counts summed
    PER WINDOW (a candidate inside two overlapping windows counts twice,
    matching the reference's per-window loop), windows with no nearby
    candidate, and the hit rate. Interval join per key — broadcast the
    windows side when small; candidates never collect."""
    near = F.expr(f"INTERVAL {int(near_seconds)} SECONDS")
    tw = iter_checkpoint(  # __wid must be stable across reuse
        truth_windows.select(
            F.monotonically_increasing_id().alias("__wid"),
            *[F.col(c).alias(f"__k_{i}") for i, (_, c) in enumerate(keys)],
            F.col(win_start).alias("__ws"),
            F.col(win_end).alias("__we"),
        )
    )
    cond = None
    for i, (cand_col, _) in enumerate(keys):
        c = candidates[cand_col] == tw[f"__k_{i}"]
        cond = c if cond is None else (cond & c)
    near_rng = candidates[cand_ts].between(
        tw["__ws"] - near, tw["__we"] + near
    )
    cond = near_rng if cond is None else (cond & near_rng)
    j = tw.join(candidates, cond, "left")
    per_win = j.groupBy("__wid").agg(
        F.count(F.col(cand_ts)).alias("near_n"),
        F.count(
            F.when(
                F.col(cand_ts).between(F.col("__ws"), F.col("__we")),
                F.lit(1),
            )
        ).alias("in_n"),
    )
    n_cand = candidates.count()
    return per_win.agg(
        F.lit(n_cand).alias("total_candidates"),
        F.count(F.lit(1)).alias("total_truth_windows"),
        F.sum("in_n").alias("candidates_in_windows"),
        F.sum("near_n").alias("candidates_near_windows"),
        F.sum((F.col("near_n") == 0).cast("long")).alias("empty_windows"),
        F.round(
            F.avg((F.col("near_n") > 0).cast("double")) * 100.0, 4
        ).alias("window_hit_rate"),
    )


def candidate_signal_context(
    signal: DataFrame,
    candidates: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    cand_id: str,
    before_seconds: float,
    after_seconds: float,
    value_scale: int | None = None,
) -> DataFrame:
    """Per-candidate numeric context — the distilled form of the archived
    validator's plot (``05_validate_candidates_visually.py:176-249``):
    for each candidate, mean/std/count of the signal in
    (ts - before_seconds, ts) and (ts, ts + after_seconds), the
    before→after mean shift, and |shift| / pooled-std SNR, so candidates
    rank and audit numerically at any scale.

    Shape: candidates are UNIONed into the signal stream as marker rows
    (NULL value, so they never pollute the aggregates), then two
    RANGE-frame window passes per key compute the exclusive before/after
    stats — no join, no per-candidate loop, partition-parallel by key.
    Signal rows at exactly the candidate timestamp are excluded on both
    sides (value-based RANGE frames), keeping the split unambiguous.

    ``value_scale``: when the signal values are exact multiples of
    1/scale (e.g. 100 for 2-decimal readings), pass the scale and the
    mean/std are computed from EXACT integer window sums (Σc, Σc², n
    with c = value·scale): every float op then runs on identical exact
    operands in any engine, so results are bit-reproducible regardless
    of per-frame row count. Without it, window AVG accumulation order
    makes the last ulp engine-dependent, and the float error of a frame
    SUM grows with rows per frame — a hot key (one user holding half
    the events, planted by the skewed-replica sweep) pushes ~350-row
    frames across the 6 dp rounding boundary (the observed tie:
    44.7734375, an exact binary half). Values that are NOT exact
    multiples of 1/scale are quantized to the grid first (both engines
    identically), so the contract degrades gracefully."""
    b_us = int(before_seconds * 1_000_000)
    a_us = int(after_seconds * 1_000_000)
    # marker NULL columns take the candidate frame's own types, so any
    # id type (long, string, sha256 hash) and either timestamp flavor
    # union cleanly
    cid_t = candidates.schema[cand_id].dataType
    cts_t = candidates.schema[ts].dataType
    scaled = value_scale is not None
    # try_cast, not cast: NaN/Inf payloads (which violate the exact-
    # multiple contract and would poison a float mean anyway) must null
    # out instead of raising CAST_OVERFLOW under ANSI — TRY_CAST in the
    # oracle nulls them identically
    val = (
        F.round(F.col(value).cast("double") * value_scale).try_cast("long")
        if scaled
        else F.col(value).cast("double")
    )
    sig = signal.select(
        *[F.col(k) for k in keys],
        F.unix_micros(F.col(ts)).alias("__t"),
        val.alias("__v"),
        F.lit(None).cast(cid_t).alias("__cid"),
        F.lit(None).cast(cts_t).alias("__cts"),
    )
    cand = candidates.select(
        *[F.col(k) for k in keys],
        F.unix_micros(F.col(ts)).alias("__t"),
        F.lit(None).cast("long" if scaled else "double").alias("__v"),
        F.col(cand_id).alias("__cid"),
        F.col(ts).alias("__cts"),
    )
    u = sig.unionByName(cand)
    order = Window.partitionBy(*keys).orderBy("__t")
    wb = order.rangeBetween(-b_us, -1)
    wa = order.rangeBetween(1, a_us)
    if scaled:
        sc = float(value_scale)

        def _stats(w, side):
            return [
                F.sum("__v").over(w).alias(f"__s1{side}"),
                F.sum(F.col("__v") * F.col("__v")).over(w).alias(f"__s2{side}"),
                F.count("__v").over(w).alias(f"n_{side}"),
            ]

        out = u.select(
            "__cid", "__cts", *keys,
            *_stats(wb, "before"), *_stats(wa, "after"),
        ).filter(F.col("__cid").isNotNull())

        def _mean(side):
            return F.col(f"__s1{side}").cast("double") / (
                F.col(f"n_{side}").cast("double") * F.lit(sc)
            )

        def _std(side):
            # n·Σc² − (Σc)² over n(n−1), all in double ON EXACT INTEGER
            # inputs: both engines evaluate the identical expression
            # tree on identical operands. Clamped at 0 — an all-equal
            # frame can cancel to a tiny negative in float.
            nd = F.col(f"n_{side}").cast("double")
            var = (
                nd * F.col(f"__s2{side}").cast("double")
                - F.col(f"__s1{side}").cast("double")
                * F.col(f"__s1{side}").cast("double")
            ) / (nd * (nd - F.lit(1.0)))
            return F.when(
                F.col(f"n_{side}") > 1,
                F.sqrt(F.greatest(var, F.lit(0.0))) / F.lit(sc),
            )

        out = out.select(
            "__cid", "__cts", *keys,
            _mean("before").alias("__mb"), _std("before").alias("__sb"),
            "n_before",
            _mean("after").alias("__ma"), _std("after").alias("__sa"),
            "n_after",
        )
    else:
        out = u.select(
            "__cid",
            "__cts",
            *keys,
            F.avg("__v").over(wb).alias("__mb"),
            F.stddev_samp("__v").over(wb).alias("__sb"),
            F.count("__v").over(wb).alias("n_before"),
            F.avg("__v").over(wa).alias("__ma"),
            F.stddev_samp("__v").over(wa).alias("__sa"),
            F.count("__v").over(wa).alias("n_after"),
        ).filter(F.col("__cid").isNotNull())
    shift = F.col("__ma") - F.col("__mb")
    pooled = F.sqrt(
        (F.col("__sb") * F.col("__sb") + F.col("__sa") * F.col("__sa"))
        / F.lit(2.0)
    )
    # 6 dp works at any frame size under value_scale (exact sums); the
    # float path keeps the original contract: means of 2-decimal inputs
    # over <=20-row frames have at most ~5 true decimals, so no result
    # sits on a 6 dp rounding boundary
    return out.select(
        F.col("__cid").alias(cand_id),
        F.col("__cts").alias(ts),
        *keys,
        F.round("__mb", 6).alias("mean_before"),
        F.round("__sb", 6).alias("std_before"),
        "n_before",
        F.round("__ma", 6).alias("mean_after"),
        F.round("__sa", 6).alias("std_after"),
        "n_after",
        F.round(shift, 6).alias("mean_shift"),
        F.round(
            F.when(pooled > 0, F.abs(shift) / pooled), 6
        ).alias("snr"),
    )
