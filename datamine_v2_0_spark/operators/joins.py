"""Join operators (SURVEY.md §2.3, J1-J10).

Behavioral reference: ckpronto/datamine_v2.0 —
spatial zone join (``STEP 4 - Feature Engineering/04_worker_script.sql:12-16``),
anti-join dedup (``STEP 2 .../02_raw_telemetry_transform.py:367-378``),
interval label join (``STEP 2.1 .../02.1.2_...label_recombine.py:358-399``),
as-of nearest join (``claudeinstructions.md:60-84``),
overlap join (``STEP 5 - CPD/_archive/05_cpd_algorithm_tuning.py:121-139``).

Scale notes:
- Small sides (zones: 7 rows; labels: thousands) are broadcast explicitly —
  never shuffle 100 TB against a dimension table.
- Interval / as-of / overlap joins are range joins: Spark executes them as
  BroadcastNestedLoopJoin when one side is broadcast — correct and fast for
  small interval sets. For big-big range joins, pre-bucket both sides on a
  coarse time bucket (equi key) and range-filter within the bucket.
- The as-of join is the decorrelated window-rank rewrite: Catalyst will NOT
  decorrelate an ORDER BY ... LIMIT 1 scalar subquery, so this operator IS
  the optimization.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint


def equi_join(
    left: DataFrame, right: DataFrame, on: str | Sequence[str], how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J2/J3: hash-key or composite-key equi join."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J5: ``NOT EXISTS`` incremental dedup — rows of `left` with no match."""
    return left.join(right, on=on, how="left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J9: driving-table restriction — rows of `left` with >=1 match."""
    return left.join(right, on=on, how="left_semi")


def upsert(
    current: DataFrame,
    updates: DataFrame,
    key: str | Sequence[str],
    order_col: str | Column,
) -> DataFrame:
    """J6: merge/upsert without Delta — union + keep newest per key
    (``INSERT ... ON CONFLICT DO UPDATE`` parity,
    02_raw_telemetry_transform.py:345-365).

    `order_col` breaks ties: the row with the greatest value wins; on
    an EXACT order_col tie the update wins over the current row (the
    ON CONFLICT DO UPDATE contract — without an explicit source
    precedence the winner would depend on partition layout and a rerun
    could keep the stale row)."""
    keys = [key] if isinstance(key, str) else list(key)
    unioned = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*keys).orderBy(F.desc(oc), F.desc("__src"))
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def interval_contain_join(
    points: DataFrame,
    intervals: DataFrame,
    point_keys: Sequence[tuple[str, str]],
    ts: str,
    start: str,
    end: str,
    how: str = "left",
    broadcast_intervals: bool = False,
) -> DataFrame:
    """J4: point-in-interval containment join — label each point row with
    any interval containing its timestamp (02.1.2:358-399).

    `point_keys` is [(point_col, interval_col), ...] equi conditions.
    ``broadcast_intervals`` defaults to FALSE (scale-safe; see
    ``asof_nearest_join``) — set it only for interval sets bounded by
    construction (zone tables, label windows), where it turns the plan
    into a map-side join with no shuffle."""
    iv = F.broadcast(intervals) if broadcast_intervals else intervals
    cond = None
    for p, i in point_keys:
        c = points[p] == iv[i]
        cond = c if cond is None else (cond & c)
    rng = points[ts].between(iv[start], iv[end])
    cond = rng if cond is None else (cond & rng)
    return points.join(iv, cond, how)


def resolve_priority(
    df: DataFrame, key: str | Sequence[str], priority: Column, label: str
) -> DataFrame:
    """J4 follow-up: when a point falls in multiple intervals, keep the
    max-priority label per key (load > dump > background, 02.1.2:381-399)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.desc(priority), F.col(label))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    tolerance_seconds: float,
    left_id: str,
    broadcast_right: bool = False,
    direction: str = "nearest",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """J7: as-of-in-time join — for each left row, the single right row
    within tolerance (claudeinstructions.md:60-84, rewritten to window
    rank-1), with pandas ``merge_asof`` direction semantics:
    'nearest' minimizes |t_l - t_r|; 'backward' takes the latest right
    row at-or-before t_l; 'forward' the earliest at-or-after.

    Ties break on the right timestamp, then ``right_tiebreak`` when
    given — pass a unique right-side id whenever right timestamps can
    repeat per key, or the winner is layout-dependent (the contract
    header requires every rank ordering to carry a unique tiebreak).

    ``broadcast_right`` defaults to FALSE (scale-safe): a forced
    broadcast hint overrides Catalyst's size logic at ANY data size, so
    it is only correct when the caller can declare the right side
    bounded by construction (a dim table, a probe set) — the round-7
    plan-audit broadcast gate flags hint-forced broadcasts of
    corpus-scaled relations. Un-hinted, Catalyst still broadcasts small
    sides by size and AQE re-plans at scale."""
    if direction not in ("nearest", "backward", "forward"):
        raise ValueError(f"direction must be nearest/backward/forward, got {direction!r}")
    r = F.broadcast(right) if broadcast_right else right
    cond = None
    for lk, rk in keys:
        c = left[lk] == r[rk]
        cond = c if cond is None else (cond & c)
    signed = (
        F.unix_micros(left[left_ts]) - F.unix_micros(r[right_ts])
    ).cast("double") / F.lit(1_000_000.0)
    diff = F.abs(signed)
    rng = diff <= F.lit(tolerance_seconds)
    if direction == "backward":
        rng = rng & (signed >= 0)  # right at or before left
    elif direction == "forward":
        rng = rng & (signed <= 0)  # right at or after left
    cond = rng if cond is None else (cond & rng)
    joined = left.join(r, cond, "inner").withColumn("__absdiff", diff)
    order = [F.col("__absdiff"), r[right_ts]] + (
        [r[right_tiebreak]] if right_tiebreak else []
    )
    w = Window.partitionBy(left[left_id]).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__absdiff")
    )


def asof_merge_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Big-big as-of join with NO join operator: the union-merge form.

    Right rows become value carriers; both sides union, sort per key by
    time (right before left at equal timestamps, so 'at-or-before' is
    inclusive), and one window pass forward-fills the latest carried
    value onto each left row — ONE shuffle on ``keys``, no broadcast, no
    nested loop, no row explosion. This is the scale path when both
    sides are large (the broadcast rank-1 form in
    :func:`asof_nearest_join` stays the low-latency path for small
    right sides). ``direction='forward'`` mirrors with a backward fill.

    ``keys`` are common column names; ``value_cols`` are the right
    columns to carry; rows beyond ``tolerance_seconds`` get NULLs.
    Right timestamps must be unique per key for deterministic output
    (ties otherwise carry the later union order).

    All carried columns travel in ONE struct per right row: the struct
    itself is non-null for right rows, so a single
    ``last(ignorenulls=True)`` picks whole rows atomically — every
    filled value (and the timestamp the tolerance gap is measured
    against) comes from the SAME nearest right row, even when that row
    has NULLs in some value columns. Filling each column independently
    would silently mix values from different right rows (and pull stale
    non-NULLs past a nearer NULL), diverging from ASOF row semantics.
    

    Right timestamps must be UNIQUE per key (the standard as-of input
    contract; pandas merge_asof requires sorted input for the same
    reason): among duplicate right timestamps the surviving row is
    engine-/layout-dependent here and in DuckDB's ASOF JOIN alike.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    keys = list(keys)
    value_cols = list(value_cols)
    rl = right.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__src"),
        F.struct(
            F.col(right_ts).alias("__rt"),
            *[F.col(c) for c in value_cols],
        ).alias("__carry"),
    )
    carry_type = dict(rl.dtypes)["__carry"]
    ll = (
        left.withColumn("__t", F.col(left_ts))
        .withColumn("__src", F.lit(1))
        .withColumn("__carry", F.lit(None).cast(carry_type))
    )
    u = ll.unionByName(rl, allowMissingColumns=True)
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__t").asc(), F.col("__src").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        picked = F.last("__carry", ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__t").asc(), F.col("__src").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        picked = F.first("__carry", ignorenulls=True).over(w)
    out = u.withColumn("__picked", picked)
    rt = F.col("__picked")["__rt"]
    if direction == "backward":
        gap = F.unix_micros(F.col("__t")) - F.unix_micros(rt)
    else:
        gap = F.unix_micros(rt) - F.unix_micros(F.col("__t"))
    within = (
        F.lit(True)
        if tolerance_seconds is None
        else (gap.cast("double") / 1e6 <= F.lit(float(tolerance_seconds)))
    )
    out = out.filter(F.col("__src") == 1)
    keep = [col for col in left.columns] + [
        F.when(within, F.col("__picked")[c]).alias(f"asof_{c}") for c in value_cols
    ]
    return out.select(*keep)


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[tuple[str, str]],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J8: interval-interval overlap join — ``max(starts) < min(ends)``
    (05_cpd_algorithm_tuning.py:121-139). ``broadcast_right`` defaults
    to FALSE (scale-safe; see ``asof_nearest_join``) — opt in only for
    bounded right sides.

    The theta form plans as a per-key nested loop inside SMJ, so a hot
    key pays |left-in-key| × |right-in-key| predicate evals in one key
    group; for big-big sides with bounded interval spans prefer
    :func:`overlap_join_binned`."""
    r = F.broadcast(right) if broadcast_right else right
    cond = None
    for lk, rk in keys:
        c = left[lk] == r[rk]
        cond = c if cond is None else (cond & c)
    ovl = (left[left_start] < r[right_end]) & (r[right_start] < left[left_end])
    cond = ovl if cond is None else (cond & ovl)
    return left.join(r, cond, how)


def overlap_join_binned(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[tuple[str, str]],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_seconds: int,
) -> DataFrame:
    """Big-big interval-interval overlap join via time-axis binning —
    the two-sided sibling of :func:`range_bin_join`.

    Both sides explode to every bin their interval touches (replication
    ≈ span/bin + 1), candidates meet as an equi join on (keys, bin)
    with the exact strict-overlap predicate as a post-filter, and each
    overlapping pair is EMITTED exactly once without a distinct pass:
    only in the bin of ``max(starts)`` — the overlap's start, which both
    sides' bin ranges provably cover (start ≤ max(starts) < end on each
    side, and second-truncated binning is monotone). Work per (key, bin)
    is the product of in-bin interval counts, so a hot key costs
    density², not count² — the skewed-replica bench's whale customer
    (40% of orders in one key) took the theta form 65× over uniform,
    output-identical to this plan. Pick ``bin_seconds`` near the median
    interval span."""
    b = F.lit(int(bin_seconds)).cast("long")

    def ex(df, s, e):
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(s)) / b),
                    F.floor(F.unix_timestamp(F.col(e)) / b),
                )
            ),
        )

    l = ex(left, left_start, left_end)
    r = ex(right, right_start, right_end)
    cond = l["__bin"] == r["__bin"]
    for lk, rk in keys:
        cond = cond & (l[lk] == r[rk])
    cond = cond & (l[left_start] < r[right_end]) & (r[right_start] < l[left_end])
    anchor = l["__bin"] == F.floor(
        F.unix_timestamp(F.greatest(l[left_start], r[right_start])) / b
    )
    return l.join(r, cond & anchor, "inner").drop("__bin")


def range_bin_join(
    points: DataFrame,
    intervals: DataFrame,
    ts: str,
    start: str,
    end: str,
    bin_seconds: int,
    keys: Sequence[tuple[str, str]] = (),
    how: str = "inner",
) -> DataFrame:
    """Big-big point-in-interval join without broadcast: bin the time
    axis. Each point maps to ONE bucket; each interval explodes to every
    bucket it covers (replication ≈ span/bin + 1); the join is then an
    equi shuffle join on (bucket, keys) with the exact containment
    predicate as a post-filter. Because a point owns exactly one bucket,
    no pair can match twice — no dedup pass needed, and ``how='left'``
    keeps unmatched points exactly once.

    This is the standard range-join binning technique (e.g. the
    Databricks range-join hint); vanilla Spark otherwise plans a
    broadcast-nested-loop for pure range predicates. Pick
    ``bin_seconds`` near the median interval span: too small inflates
    interval replication, too large inflates the post-filter's false
    candidates.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"how must be inner/left, got {how!r}")
    b = F.lit(int(bin_seconds)).cast("long")
    p = points.withColumn("__bin", F.floor(F.unix_timestamp(F.col(ts)) / b))
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start)) / b),
                F.floor(F.unix_timestamp(F.col(end)) / b),
            )
        ),
    )
    cond = p["__bin"] == iv["__bin"]
    for pk, ik in keys:
        cond = cond & (p[pk] == iv[ik])
    cond = cond & p[ts].between(iv[start], iv[end])
    return p.join(iv, cond, how).drop("__bin")


def fraction_of_total(
    df: DataFrame, keys: Sequence[str], round_to: int = 4
) -> DataFrame:
    """J10: scalar-subquery percentage — per-group count over global count
    (debug_notebook_corrected.py:137-147). Broadcast 1-row-total fold-in:
    the earlier Window-over-empty-partition form funneled the ENTIRE
    grouped relation through one task (flagged by the round-7
    single-task-window plan probe — high-cardinality keys make the
    counts relation data-sized); the 1-row total broadcast keeps every
    stage parallel."""
    # two consumers (total fold + join side): materialize the grouped
    # counts once — one corpus scan, not two
    counts = iter_checkpoint(
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        *keys,
        "n",
        F.round(F.col("n") / F.col("__total") * 100.0, round_to).alias("pct"),
    )


def lookup_join(
    df: DataFrame,
    mapping: dict[str, str],
    col: str,
    out: str,
    default: str = "unknown",
) -> DataFrame:
    """Data-driven enum decode as a broadcast lookup join (the testable
    alternative to a CASE chain, 02_raw_telemetry_transform.py:282-327).

    Mapping keys are normalized with the SAME trim+lower applied to the
    data column — a mixed-case mapping key would otherwise silently
    never match and every such row would fall to the default. Two
    mapping keys that collide after normalization ('A' and 'a') would
    create duplicate lookup rows and silently DUPLICATE every matching
    input row in the join output, so conflicting collisions raise;
    collisions that agree on the value dedupe harmlessly."""
    spark = df.sparkSession
    norm_map: dict[str, str] = {}
    for k, val in mapping.items():
        nk = str(k).strip().lower()
        if nk in norm_map and norm_map[nk] != val:
            raise ValueError(
                f"lookup mapping keys collide after trim+lower: {nk!r} maps "
                f"to both {norm_map[nk]!r} and {val!r}"
            )
        norm_map[nk] = val
    lut = spark.createDataFrame(
        list(norm_map.items()), schema=f"__k string, {out} string"
    )
    norm = F.lower(F.trim(F.coalesce(F.col(col), F.lit(default))))
    return (
        df.withColumn("__k", norm)
        .join(F.broadcast(lut), "__k", "left")
        .withColumn(out, F.coalesce(F.col(out), F.lit(default)))
        .drop("__k")
    )


def bloom_prefilter_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
    max_bits: int = 1 << 27,
) -> DataFrame:
    """Exact equi join with an explicit bloom prefilter on the probe
    side: hash the (already filtered) build side's keys into k bit
    positions (JVM xxhash64 Column algebra), assemble the bitset once on
    the driver (bounded by ``max_bits`` — 16 MB at the default cap, the
    same bounded-driver-state contract as train_pq's codebook sample),
    and drop probe rows whose bits miss BEFORE the shuffle join. False
    positives survive the prefilter and die in the real join, so the
    result is exactly ``left.join(right, on, how)`` — what changes is
    shuffle volume: at 100 TB a selective dim filter becomes row-level
    pruning of the fact side (the manual form of
    spark.sql.optimizer.runtime.bloomFilter, for build sides the
    optimizer can't see through, e.g. the output of a subpipeline; this
    build's registry does not expose bloom_filter_agg, so the bitset is
    built from a distributed distinct-position aggregate instead).

    Probe positions are computed with the same JVM hash expressions and
    only the vectorized bit test runs in Arrow. Sized from
    ``expected_items``/``fpp`` via m = -n·ln(p)/ln²2, k = (m/n)·ln2.
    Supported join types: inner / semi (prefiltering the probe side is
    only sound when missing-key rows are dropped anyway).
    """
    import math

    from pyspark.sql.functions import pandas_udf

    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError("bloom prefilter is only sound for inner/semi joins")
    if not 0 < fpp < 1:
        raise ValueError("fpp must be in (0, 1)")
    m = int(-expected_items * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, min(m, int(max_bits)))
    k = max(1, min(8, round(m / max(1, expected_items) * math.log(2))))

    def _positions(key: Column) -> list[Column]:
        # double hashing: pos_i = (h1 + i*h2) mod m, ANSI-overflow-safe
        # (operands reduced mod m first; i*h2mod < 8 * 2^27 << 2^63)
        h1 = F.pmod(F.xxhash64(key), F.lit(m))
        h2 = F.pmod(F.xxhash64(key, F.lit(1)), F.lit(m))
        return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]

    # pack bits into 64-bit words DISTRIBUTEDLY (groupBy word + bit_or)
    # so the driver receives at most m/64 packed longs (2M rows at the
    # 2^27 cap) — collecting raw distinct positions was bounded by the
    # build side's key count, not by max_bits, and violated the 16 MB
    # bounded-driver-state contract on large build sides
    word_rows = (
        right.select(
            F.explode(F.array(*_positions(F.col(on)))).alias("__p")
        )
        .select(
            F.expr("shiftright(__p, 6)").alias("__w"),
            F.expr("shiftleft(1L, CAST(pmod(__p, 64) AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__b)").alias("__bits"))
        .collect()
    )
    bitset = np.zeros((m + 63) // 64, dtype=np.uint64)
    for r in word_rows:
        bitset[r["__w"]] = np.uint64(r["__bits"] & 0xFFFFFFFFFFFFFFFF)

    @pandas_udf("boolean")
    def _test(parr: pd.Series) -> pd.Series:
        P = np.array(parr.tolist(), dtype=np.int64)  # (rows, k)
        bits = (bitset[P // 64] >> (P % 64).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    pruned = left.filter(_test(F.array(*_positions(F.col(on)))))
    if how in ("semi", "left_semi", "leftsemi"):
        return pruned.join(right, on, "left_semi")
    return pruned.join(right, on, how)


def _qgrams(col: Column, q: int) -> Column:
    """Distinct character q-grams of a string column (whole string when
    shorter than q), built with a JVM-side transform over start
    offsets."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (q - 1)),
        lambda i: c.substr(i, F.lit(q)),
    )
    return F.when(F.length(c) >= q, F.array_distinct(grams)).otherwise(
        F.array(c)
    )


def fuzzy_self_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    r"""Edit-distance self-join: (name_a, name_b, dist) for every pair of
    values with levenshtein <= max_dist, name_a < name_b — entity
    resolution / typo clustering without an all-pairs product.

    Blocking is the q-gram PREFIX FILTER (Chaudhuri et al. 2006): order
    all grams by (document frequency, gram) globally; two strings within
    edit distance d share >= 1 gram among each one's (q*d + 1) RAREST
    grams, because each edit destroys at most q grams, so at most q*d
    of a string's grams can be missing from the intersection and the
    smallest shared gram sits inside both prefixes. Candidate
    generation is therefore an equi join on prefix grams — and because
    prefixes keep only the rarest grams, hot grams (shared by half the
    corpus) never form buckets.

    The prefix-filter guarantee needs > q*d DISTINCT grams per string
    (an edit destroys at most q distinct grams, so |G(a) \ G(b)| <= qd
    — vacuous when the whole gram set is that small: "aaa" vs "abab"
    share zero grams at distance 2). Strings at or below that bound
    ("low-gram": short or highly repetitive, rare in real corpora) are
    routed through a LENGTH-BAND fallback block instead — exploded to
    bands {b-1, b, b+1} of width d+1 and equi-joined on the band
    against everything, which is exhaustive because |len(a) - len(b)|
    <= d. Together the two channels are lossless: high-high pairs by
    the prefix theorem, low-anything pairs by the band block.

    Scale shape: one groupBy for gram DF, one co-partitioned join to
    attach ranks, equi joins only (prefix gram / length band — never a
    nested-loop product), exact `F.levenshtein` verify on candidates.
    Recall at the registered operating point is certified by the
    exact-SQL oracle hash (candidates→exact-verify pattern,
    COVERAGE.md); adversarial repeated-gram fixtures are brute-force
    checked in test_fuzzy. Worst case degrades toward quadratic only if
    most of the corpus is low-gram (e.g. single-character alphabets).
    """
    prefix_len = q * max_dist + 1
    strings = df.select(F.col(col).alias("__s")).distinct()
    grams = strings.select(
        "__s", F.explode(_qgrams(F.col("__s"), q)).alias("__g")
    )
    gram_df = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    ranked = grams.join(gram_df, "__g").groupBy("__s").agg(
        F.array_sort(F.collect_list(F.struct("__df", "__g"))).alias("__all"),
    )
    # high-gram channel: prefix-filter equi join
    prefixes = (
        ranked.filter(F.size("__all") >= prefix_len)
        .select("__s", F.explode(F.slice("__all", 1, prefix_len)).alias("__pg"))
        .select("__s", F.col("__pg.__g").alias("__g"))
    )
    high_cands = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), "__g")
        .filter(F.col("a.__s") < F.col("b.__s"))
        .select(
            F.col("a.__s").alias("name_a"), F.col("b.__s").alias("name_b")
        )
    )
    # low-gram channel: length-band block (width d+1, probe 3 bands)
    w = max_dist + 1
    band = (F.length("__s") / w).cast("long")
    low = ranked.filter(F.size("__all") < prefix_len).select(
        "__s", F.explode(F.array(band - 1, band, band + 1)).alias("__b")
    )
    allb = strings.select("__s", band.alias("__b"))
    low_cands = (
        low.alias("a")
        .join(allb.alias("b"), "__b")
        .filter(F.col("a.__s") != F.col("b.__s"))
        .select(
            F.least("a.__s", "b.__s").alias("name_a"),
            F.greatest("a.__s", "b.__s").alias("name_b"),
        )
    )
    cands = high_cands.unionByName(low_cands).distinct()
    return (
        cands.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", F.col("dist").cast("bigint").alias("dist"))
    )
