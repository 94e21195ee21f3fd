"""Bounded-memory mergeable sketches beyond HLL (which lives in
:mod:`aggregates`): Misra–Gries heavy hitters and t-digest quantiles.

Why sketches at 100 TB: an exact GROUP BY over a high-cardinality key
shuffles every distinct key; a sketch bounds BOTH executor memory and
shuffle volume to the sketch capacity per partition, and the summaries
merge associatively — so day sketches roll into week sketches without a
rescan, same as the HLL story.

Reference parity note: the reference repo has no sketch counterpart
(its distinct/top-k passes are exact Polars/SQL at single-node scale,
e.g. `STEP 3 - EDA Analysis`); this module is part of the
beyond-reference scale surface.
"""

from __future__ import annotations

import sys
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from datamine_v2_0_spark.shipping import ship_by_value

# the mapInPandas/applyInPandas closures call this module's kernels
# (_mg_compress, _merge_centroids, tdigest_quantile) — ship them by value
# so workers need no package install
ship_by_value(sys.modules[__name__])


def _mg_compress(counts: dict, capacity: int) -> tuple[dict, int]:
    """Compress a counter to ≤ capacity entries, Misra–Gries style:
    find the smallest decrement d such that ≤ capacity keys keep a
    positive count, subtract d everywhere, drop the non-positive.
    Every surviving value is a LOWER bound on the true count with error
    ≤ the total decrement applied."""
    if len(counts) <= capacity:
        return counts, 0
    vals = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    # d = (len-capacity)-th smallest value: exactly the keys strictly
    # above d survive (ties at d are dropped, so survivors ≤ capacity)
    d = int(np.partition(vals, len(vals) - capacity - 1)[len(vals) - capacity - 1])
    return {k: v - d for k, v in counts.items() if v > d}, d


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    capacity: int = 4096,
) -> DataFrame:
    """Approximate top-k frequent values of ``key_col`` via per-partition
    Misra–Gries summaries: (key, est_count, err_ub) — est_count is a
    lower bound on the true count, true ≤ est_count + err_ub, and any
    key with true count > err_ub is guaranteed present in the merged
    summary (the MG frequent-items guarantee with total error
    ≤ Σ_p n_p/(capacity+1)).

    Execution shape: ``mapInPandas`` keeps ONE bounded counter per
    partition across its Arrow batches (memory ≤ capacity keys, never
    distinct-per-partition), emits ≤ capacity summary rows + one meta
    row per partition; the merge is a groupBy over ≤ capacity × n_part
    rows instead of a full-corpus shuffle on the raw key. With
    capacity ≥ distinct(key) the decrements are provably zero and the
    result is the EXACT top-k — the oracle-certifiable operating point.
    """
    key_type = dict(df.dtypes)[key_col]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        dec_total = 0
        for pdf in it:
            vc = pdf[key_col].dropna().value_counts()
            for key, c in vc.items():
                counts[key] = counts.get(key, 0) + int(c)
            counts, d = _mg_compress(counts, capacity)
            dec_total += d
        keys = list(counts)
        # the None meta-row sentinel must not coerce integer keys to
        # float64 (ids above 2^53 would silently lose precision before
        # the Arrow cast back to long) — use pandas' nullable Int64
        if key_type in ("tinyint", "smallint", "int", "bigint"):
            kcol = pd.array(keys + [None], dtype="Int64")
        else:
            kcol = pd.Series(keys + [None], dtype="object")
        yield pd.DataFrame(
            {
                key_col: kcol,
                "__lb": [counts[x] for x in keys] + [0],
                "__dec": [0] * len(keys) + [dec_total],
            }
        )

    summaries = df.select(key_col).mapInPandas(
        gen, schema=f"{key_col} {key_type}, __lb long, __dec long"
    )
    # one row: the global error bound (sum of every partition's decrements)
    err = summaries.agg(F.sum("__dec").alias("err_ub"))
    merged = (
        summaries.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.sum("__lb").alias("est_count"))
    )
    return (
        merged.crossJoin(F.broadcast(err))
        .orderBy(F.desc("est_count"), key_col)
        .limit(k)
        .select(key_col, "est_count", "err_ub")
    )


def tdigest_sketch(values: np.ndarray, max_centroids: int = 100) -> np.ndarray:
    """Build a (mean, weight) centroid digest of ``values`` with at most
    ``max_centroids`` centroids, size-limited by the scale function
    k(q) = δ/2π · asin(2q-1) (Dunning & Ertl 2019): centroid capacity
    shrinks toward the tails, so extreme quantiles stay near-exact while
    the middle compresses. Returns an array shaped (n_centroids, 2)."""
    if len(values) == 0:
        return np.empty((0, 2))
    return _merge_centroids(
        np.column_stack([np.sort(values), np.ones(len(values))]), max_centroids
    )


def _merge_centroids(cent: np.ndarray, max_centroids: int) -> np.ndarray:
    """Merge sorted (mean, weight) centroids greedily under the k-scale
    size limit — the t-digest 'merging digest' compaction."""
    if len(cent) <= 1:
        return cent
    order = np.argsort(cent[:, 0], kind="stable")
    cent = cent[order]
    total = cent[:, 1].sum()
    delta = float(max_centroids)

    def k_scale(q: float) -> float:
        q = min(1.0, max(0.0, q))
        return delta / (2 * np.pi) * np.arcsin(2 * q - 1)

    out_m, out_w = [], []
    cur_m, cur_w = cent[0, 0], cent[0, 1]
    w_before = 0.0
    for m, w in cent[1:]:
        q0 = w_before / total
        q1 = (w_before + cur_w + w) / total
        if k_scale(q1) - k_scale(q0) <= 1.0:
            cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_before += cur_w
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.column_stack([out_m, out_w])


def tdigest_quantile(cent: np.ndarray, q: float) -> float:
    """Estimate quantile q from a (mean, weight) digest: piecewise-linear
    interpolation between centroid midpoints (the standard t-digest
    estimator)."""
    if len(cent) == 0:
        return float("nan")
    if len(cent) == 1:
        return float(cent[0, 0])
    w = cent[:, 1]
    total = w.sum()
    # cumulative weight at each centroid's midpoint
    mid = np.cumsum(w) - w / 2.0
    target = q * total
    return float(np.interp(target, mid, cent[:, 0]))


def grouped_tdigest(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    max_centroids: int = 100,
    buffer_cap: int | None = None,
) -> DataFrame:
    """Per-group t-digest sketches: (keys..., n, means array, weights
    array) — the mergeable percentile form: period digests union into
    coarser periods via `merge_tdigests` without rescanning raw data
    (exact percentiles cannot: a day's p95 tells you nothing about the
    week's).

    Two-stage BOUNDED-MEMORY build (a groupBy().applyInPandas fit would
    materialize the largest group's full value array in one task — a
    hot group OOMs at corpus scale): stage 1 streams each input
    partition's Arrow batches through a per-key value buffer that is
    folded into centroid form whenever it exceeds ``buffer_cap``
    (default 8×max_centroids), so executor memory is
    O(keys-per-partition × buffer_cap) regardless of group size;
    stage 2 merges the ≤ n_partitions partial digests per key
    (≤ ~2×max_centroids centroids each) with the same compaction.
    Merging digests are associative (Dunning & Ertl 2019): the result
    satisfies the same k-scale size bound and accuracy class as a
    single-pass build, though centroid layout may differ."""
    keys = list(keys)
    cap = int(buffer_cap or max(8 * max_centroids, 512))
    key_schema = ", ".join(f"{k} {dict(df.dtypes)[k]}" for k in keys)
    out_schema = (
        f"{key_schema}, n long, means array<double>, weights array<double>"
    )

    def _fold(cent, buffers):
        vals = (
            np.concatenate(buffers)
            if buffers
            else np.empty(0, dtype=np.float64)
        )
        stack = np.column_stack([vals, np.ones(len(vals))])
        if cent is not None and len(cent):
            stack = np.vstack([cent, stack])
        return _merge_centroids(stack, max_centroids)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # key-tuple -> [partial centroid array | None, buffered arrays, n]
        state: dict = {}
        for pdf in it:
            for kt, grp in pdf.groupby(keys, dropna=False, sort=False):
                if not isinstance(kt, tuple):
                    kt = (kt,)
                st = state.setdefault(kt, [None, [], 0])
                v = grp[value].dropna().to_numpy(dtype=np.float64)
                st[1].append(v)
                st[2] += len(v)
                if sum(len(a) for a in st[1]) >= cap:
                    st[0], st[1] = _fold(st[0], st[1]), []
        if not state:
            return
        cols: dict = {k: [] for k in keys}
        ns, ms, ws = [], [], []
        for kt, st in state.items():
            cent = _fold(st[0], st[1])
            for k, kv in zip(keys, kt):
                # pandas groupby(dropna=False) renders a NULL key as
                # NaN/NaT in the key's own dtype family; hand Arrow a
                # real None or the cast back to date/int key types fails
                cols[k].append(None if pd.isna(kv) else kv)
            ns.append(st[2])
            ms.append(cent[:, 0].tolist())
            ws.append(cent[:, 1].tolist())
        yield pd.DataFrame({**cols, "n": ns, "means": ms, "weights": ws})

    partials = df.select(*keys, value).mapInPandas(gen, schema=out_schema)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(m) for m in pdf["means"]])
        weights = np.concatenate([np.asarray(w) for w in pdf["weights"]])
        cent = _merge_centroids(
            np.column_stack([means, weights]), max_centroids
        )
        return pd.DataFrame(
            {
                **{k: [pdf[k].iloc[0]] for k in keys},
                "n": [int(pdf["n"].sum())],
                "means": [cent[:, 0].tolist()],
                "weights": [cent[:, 1].tolist()],
            }
        )

    return partials.groupBy(*keys).applyInPandas(merge, schema=out_schema)


def merge_tdigests(
    sketches: DataFrame,
    keys: Sequence[str],
    quantiles: Sequence[float],
    max_centroids: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Union per-group digests up to coarser ``keys`` and estimate the
    requested quantiles: (keys..., n, q_<p> ...). The merge is itself a
    digest compaction — associative, bounded, no raw-data rescan.
    Empty ``keys`` = one global digest (a constant grouping key keeps
    applyInPandas happy and is dropped from the output)."""
    keys = list(keys)
    drop_all = not keys
    if drop_all:
        sketches = sketches.withColumn("__all", F.lit(1))
        keys = ["__all"]
    qcols = [f"q_{str(q).replace('.', '_')}" for q in quantiles]

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(m) for m in pdf["means"]])
        weights = np.concatenate([np.asarray(w) for w in pdf["weights"]])
        cent = _merge_centroids(
            np.column_stack([means, weights]), max_centroids
        )
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row["n"] = [int(pdf["n"].sum())]
        for q, c in zip(quantiles, qcols):
            row[c] = [round(tdigest_quantile(cent, q), round_to)]
        return pd.DataFrame(row)

    key_schema = ", ".join(
        f"{k} {dict(sketches.dtypes)[k]}" for k in keys
    )
    qschema = ", ".join(f"{c} double" for c in qcols)
    out = sketches.groupBy(*keys).applyInPandas(
        merge, schema=f"{key_schema}, n long, {qschema}"
    )
    return out.drop("__all") if drop_all else out


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def _cms_cell(key_str: "F.Column", j: int, width: int):
    """Cell index of ``key`` in sketch row ``j``: hash(j ':' key) mod width.

    The hash is the 60-bit md5-prefix family (first 15 hex chars of md5,
    base 16 — always non-negative, so ``%`` and ``pmod`` agree),
    reproducible bit-for-bit in any ANSI SQL engine — the same family
    that makes SimHash oracle-checkable."""
    salted = F.concat(F.lit(f"{j}:"), key_str)
    h = F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(width)).cast("int")


def cms_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies (optionally weighted):
    returns the full sketch table ``(row int, cell int, total long)`` with
    at most ``depth * width`` rows.

    Spark-first shape: the sketch IS a bounded GROUP BY. Each input row
    contributes ``depth`` (row, cell) increments via one posexplode, and
    ``groupBy(row, cell).sum(weight)`` bounds BOTH executor hash-map
    memory and shuffle volume at depth*width entries per partition —
    Tungsten's map-side partial aggregation is exactly the per-partition
    sketch, and the exchange merge is exactly CMS's cell-wise sum merge.
    At 100 TB: one scan of two thin columns, a depth*width-row shuffle,
    no driver state. Point estimates then come from
    :func:`cms_estimate` (broadcast join of the KB-scale sketch);
    day->week rollups from :func:`cms_merge` with no raw rescan.

    Guarantees (classic CMS): every estimate OVERcounts or is exact,
    and with prob >= 1 - exp(-depth) the overcount is <= e/width * N
    (N = total weight). Zero-count keys estimate 0 only if one of their
    cells is untouched; collisions are data-dependent but fully
    deterministic given the seeded hash family, so the sketch is
    hash-checkable against an independent SQL engine AT production
    width (collisions and all), not just at a collision-free operating
    point.

    Reference parity note: no counterpart in the reference (its counting
    passes are exact single-node SQL); part of the beyond-reference
    scale surface alongside Misra-Gries / t-digest / HLL."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    k = F.col(key_col).cast("string")
    if weight_col is not None:
        # The one-sided "estimates never undercount" guarantee documented
        # above requires non-negative weights: a negative weight would
        # subtract from every cell it hashes into and silently turn the
        # sketch into a biased estimator. Raise row-side (mirroring
        # weighted_sample_k's guard style) instead of trusting callers,
        # and drop NULL-weight rows explicitly — before round 11 they
        # rode into posexplode and were discarded by sum() without
        # warning; now the filter states the precondition in the plan.
        wl = F.col(weight_col).cast("long")
        w = F.when(
            wl < 0,
            F.raise_error(
                F.concat(
                    F.lit("cms_sketch: negative weight "),
                    wl.cast("string"),
                    F.lit(" for key "),
                    k,
                    F.lit(
                        " violates the one-sided overcount guarantee; "
                        "weights must be >= 0"
                    ),
                )
            ).cast("long"),
        ).otherwise(wl)
        key_filter = F.col(key_col).isNotNull() & wl.isNotNull()
    else:
        w = F.lit(1).cast("long")
        key_filter = F.col(key_col).isNotNull()
    cells = F.array(*[_cms_cell(k, j, width) for j in range(depth)])
    return (
        df.filter(key_filter)
        .select(F.posexplode(cells).alias("row", "cell"), w.alias("__w"))
        .groupBy("row", "cell")
        .agg(F.sum("__w").alias("total"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two sketches built with the SAME (depth, width)
    parameters — the CMS merge is associative and lossless
    (merge-then-estimate == estimate-on-union, exactly), so partition /
    day sketches roll up without rescanning raw data."""
    return (
        a.unionByName(b)
        .groupBy("row", "cell")
        .agg(F.sum("total").alias("total"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 512,
) -> DataFrame:
    """Point-estimate each key in ``keys`` against a sketch built by
    :func:`cms_sketch` with the same parameters: est = min over the
    ``depth`` rows of the key's cell counters (0 for untouched cells).
    Returns ``(key_col, est long)``.

    The sketch is <= depth*width rows (KB-scale), so the join broadcasts
    the sketch side and the keys side streams — estimation over any
    number of probe keys is a map-side join plus a depth-row min."""
    k = F.col(key_col).cast("string")
    cells = F.array(*[_cms_cell(k, j, width) for j in range(depth)])
    q = keys.filter(F.col(key_col).isNotNull()).select(
        key_col, F.posexplode(cells).alias("row", "cell")
    )
    return (
        q.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("total"), F.lit(0).cast("long"))).alias(
                "est"
            )
        )
    )
