"""Projection / filter / predicate operators (SURVEY.md §2.2, P1-P10).

All of these are thin declarative wrappers — the value is that each one is
expressed so Catalyst pushes it into the parquet scan (check
``.explain``'s PushedFilters / ReadSchema). Reference behaviors:
ckpronto/datamine_v2.0 STEP 2/3/4 predicates (see per-function cites).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import date

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, cols: Sequence[str | Column]) -> DataFrame:
    """P1: explicit projection list — drives parquet column pruning."""
    return df.select(*cols)


def time_range(
    df: DataFrame, ts: str, start=None, end=None, require_not_null: bool = True
) -> DataFrame:
    """P2: time-range + NOT NULL predicates
    (02_raw_telemetry_transform.py:338-343). Bounds are inclusive."""
    c = F.col(ts)
    cond = F.lit(True)
    if require_not_null:
        cond = cond & c.isNotNull()
    if start is not None:
        cond = cond & (c >= F.lit(start))
    if end is not None:
        cond = cond & (c <= F.lit(end))
    return df.filter(cond)


def isin_filter(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """P3: ``col IN (...)`` — partition pruning when col is a partition key
    (04_worker_script.sql:16)."""
    return df.filter(F.col(col).isin(list(values)))


def like_filter(df: DataFrame, col: str, pattern: str, negate: bool = False) -> DataFrame:
    """P4: LIKE / NOT LIKE (database_pipeline.py:122-127)."""
    pred = F.col(col).like(pattern)
    return df.filter(~pred if negate else pred)


def date_eq(df: DataFrame, ts: str, day: date | str) -> DataFrame:
    """P5: ``ts::date = X`` (02.1.1:174-185)."""
    return df.filter(F.to_date(F.col(ts)) == F.lit(day))


def between(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """P6: BETWEEN, inclusive both ends."""
    return df.filter(F.col(col).between(lo, hi))


def deterministic_sample(df: DataFrame, key: str, modulus: int, keep: int = 0) -> DataFrame:
    """P10 (deterministic variant): keep rows where ``key % modulus == keep``.

    The reference samples with ``ORDER BY RANDOM() LIMIT n`` (EDA
    notebooks); for oracle-checkable and re-runnable pipelines a hash/mod
    sample is the right primitive at scale. For statistical sampling use
    ``df.sample(fraction, seed)``. ``pmod``, not ``%``: Spark's `%`
    follows the dividend's sign, so a negative key could never match a
    positive ``keep`` and the whole negative-id population would be
    silently excluded."""
    return df.filter(F.pmod(F.col(key), F.lit(modulus)) == keep)


def sample_to_token_budget(
    df: DataFrame,
    stratum_col: str,
    tokens_col: str,
    id_col: str,
    budget: int,
) -> DataFrame:
    """Training-mix assembly: per stratum (source/language/domain), take
    documents in a deterministic pseudorandom order until the stratum's
    token budget is filled. A doc is kept while the running total BEFORE
    it is under budget, so each stratum overshoots by at most one doc
    and a budget > 0 always yields at least one doc per stratum.

    The scan order is a portable Knuth multiplicative hash of the id —
    reproducible in any SQL engine (unlike xxhash64), overflow-free for
    ids up to ~9e18 after the inner mod, and uncorrelated with insert
    order so the sample isn't biased toward old/early docs.

    Plan shape at scale: one window (sort within stratum partitions) —
    the same cost profile as any per-stratum ranking; no collect, no
    self-join. Returns the input rows plus cum_tokens."""
    order = _portable_hash(F.col(id_col), 0)
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(order.asc(), F.col(id_col))
    return (
        df.withColumn("cum_tokens", F.sum(tokens_col).over(w).cast("long"))
        .filter(F.col("cum_tokens") - F.col(tokens_col) < budget)
    )


def balance_strata(
    df: DataFrame,
    strata_col: str,
    order_col: str,
    cap: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Downsample every stratum to the size of the SMALLEST stratum
    (optionally further capped) by keeping the first rows per stratum in
    ``order_col`` order — deterministic corpus balancing (e.g. equalize
    languages/sources before training-mix assembly).

    Declarative end-to-end: the per-stratum counts → global min is a
    1-row aggregate broadcast into the plan (no driver collect), and
    membership is a row_number window per stratum. At scale the window
    sorts each stratum once — for heavily skewed strata where even one
    sort is too much, take a deterministic hash-mod pre-sample down to
    ~cap first and rank that.

    Determinism requires a total order per stratum: pass a unique
    ``order_col``, or add ``tiebreak_col`` when order_col can repeat —
    row_number over a non-unique order keeps an arbitrary, layout-
    dependent subset on ties."""
    from pyspark.sql import Window

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__c"))
    m = counts.agg(F.min("__c").alias("__m"))
    if cap is not None:
        m = m.select(F.least(F.col("__m"), F.lit(cap)).alias("__m"))
    order = [F.col(order_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(strata_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("__rn") <= F.col("__m"))
        .drop("__rn", "__m")
    )


def _portable_hash(id_col: Column, seed: int) -> Column:
    """Seeded Knuth multiplicative hash, portable to any SQL engine
    (unlike xxhash64) and overflow-free under ANSI: each round's inner
    mod keeps the product under 2^63 for any BIGINT id.

    TWO multiplicative rounds with DIFFERENT odd constants: a single
    round only ADDS the seed, so seed and seed+1 shift every hash by 1
    and the induced order (and any threshold split) is nearly identical
    across seeds. The constants must differ — composing the same
    multiplier squares it, and 2654435761^2 mod 2^32 = -1651615: a
    near-identity that walks consecutive ids through a narrow band
    (measured: 0 of 1000 consecutive ids ever hashed above 0.854).
    Round 2 uses Murmur3's finalizer constant 0x85EBCA6B; the composed
    multiplier is 0.569*2^32 — well-mixed, ~10% of ids above any 0.9
    cut at every seed, zero top-k sample overlap between adjacent
    seeds."""

    def _round(x: Column, mult: int) -> Column:
        return F.pmod(
            F.pmod(x, F.lit(1000000007)) * F.lit(mult) + F.lit(seed),
            F.lit(4294967296),
        )

    return _round(_round(id_col, 2654435761), 2246822507)


def shard_shuffle(
    df: DataFrame, id_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Deterministic corpus shuffle for training-order assembly: assign
    each row a shard and an intra-shard position from a seeded portable
    hash of its id. Writing shard-by-shard in position order yields the
    same global pseudorandom document order on every run and engine.

    This is the scale-correct form of 'ORDER BY random()': a global
    sort is one range exchange over the full corpus, while shard +
    intra-shard rank is a hash exchange plus PER-SHARD sorts — the same
    plan a sharded training-data writer needs anyway
    (``repartition(shard).sortWithinPartitions(pos)``)."""
    h = _portable_hash(F.col(id_col), seed)
    from pyspark.sql import Window

    shard = F.pmod(h, F.lit(n_shards)).cast("int")
    w = Window.partitionBy("__shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__h", h)
        .withColumn("__shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumnsRenamed({"__shard": "shard"})
        .drop("__h")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("valid", 0.05),
        ("test", 0.05),
    ),
    seed: int = 0,
) -> DataFrame:
    """Deterministic train/valid/test assignment by hashed id: the unit
    interval is cut at the cumulative weights and each row falls where
    its seeded hash lands. Disjoint and exhaustive by construction,
    stable across runs/engines/cluster sizes, and new rows never move
    existing rows between splits (the property random splits lack).
    Pure projection — zero exchanges."""
    u = _portable_hash(F.col(id_col), seed) / F.lit(4294967296.0)
    expr = None
    cum = 0.0
    for name, wt in weights:
        cum += wt
        cond = u < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    # float-edge guard: anything at/above the final boundary takes the
    # last label so the assignment is exhaustive even when the weights
    # sum to 1.0 exactly
    expr = expr.otherwise(F.lit(weights[-1][0]))
    return df.withColumn("split", expr)


def temperature_mix(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    target_rows: int,
    alpha: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Temperature-based multinomial mixture sampling (the multilingual
    pre-training rebalance: stratum s is drawn with probability
    p_s ∝ n_s^alpha, alpha<1 up-weighting small strata — the exponent-
    smoothing protocol of public multilingual-LM recipes). Rows keep with
    per-stratum rate q_s = min(1, target_rows · p_s / n_s), decided by a
    seeded portable hash of the id — deterministic, engine-portable, and
    exact in expectation.

    Plan shape: stratum counts (one partial-agg shuffle) → 1-row weight
    total → both broadcast back into the filter; the corpus itself is
    scanned once and never shuffles. Returns the kept rows plus their
    ``mix_rate``.

    alpha=0.5 computes via sqrt (bit-identical across engines); other
    alphas use pow, whose last-ulp rounding may differ between libm
    implementations — fine for sampling, not for a hash-matched oracle.
    """
    n = F.col("__n").cast("double")
    wcol = (F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(float(alpha)))).alias("__w")
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    weights = counts.select(stratum_col, F.col("__n"), wcol)
    tot = weights.agg(F.sum("__w").alias("__tw"))
    rates = (
        weights.crossJoin(F.broadcast(tot))
        .select(
            stratum_col,
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows))
                * (F.col("__w") / F.col("__tw"))
                / F.col("__n"),
            ).alias("mix_rate"),
        )
    )
    u = _portable_hash(F.col(id_col), seed) / F.lit(4294967296.0)
    return df.join(F.broadcast(rates), stratum_col).filter(u < F.col("mix_rate"))


def weighted_mix(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Training-mixture sampling: keep each row with its stratum's
    rate (e.g. {'web': 0.3, 'code': 1.0}), decided by seeded hash of
    the id — deterministic, re-runnable, engine-portable, and exact in
    expectation per stratum. Pure projection + filter; the rate table
    folds into the plan as a literal CASE (no join, no shuffle)."""
    u = _portable_hash(F.col(id_col), seed) / F.lit(4294967296.0)
    rate = None
    for name, r in rates.items():
        cond = F.col(stratum_col) == name
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(
            cond, F.lit(float(r))
        )
    rate = rate.otherwise(F.lit(float(default_rate))) if rate is not None else F.lit(
        float(default_rate)
    )
    return df.filter(u < rate)


def stratified_sample_exact_k(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Exactly min(k, n_s) rows per stratum, deterministically: rank
    rows inside each stratum by a seeded portable hash of their id and
    keep the k smallest. Unlike fraction sampling (`weighted_mix`,
    ``df.sample``) the per-stratum count is EXACT — the eval-set /
    demonstration-set construction where "about k" isn't acceptable.

    Stable under corpus growth in distribution (a new row displaces one
    prior pick at most), reproducible on any engine via the same hash.
    One hash exchange on the strata key + per-stratum top-k window —
    never a global sort; k rows per stratum bound the window's heap.

    Seed-sensitivity comes from `_portable_hash`'s two multiplicative
    rounds (a single round only adds the seed and barely reorders)."""
    from pyspark.sql import Window

    h = _portable_hash(F.col(id_col), seed)
    w = Window.partitionBy(*strata).orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__h", "__rn")
    )


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    method: str = "exact",
    max_weight: int = 1024,
    keep_priority: bool = False,
    strata: Sequence[str] | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of exactly min(k, n) rows,
    deterministic and layout-independent: Efraimidis-Spirakis priority
    sampling, where each row draws priority u_i^(1/w_i) (u_i uniform)
    and the k largest priorities win. Rows with NULL / non-positive
    weight never sample; quality-weighted corpus selection where "about
    k" isn't acceptable (the weighted cousin of
    stratified_sample_exact_k).

    ``method="exact"`` (small INTEGER weights <= ``max_weight``): uses
    the identity P(max of w uniforms <= x) = x^w = P(u^(1/w) <= x) —
    the priority is the MAX of ``w`` seeded md5-60 hashes, an exact
    integer, so the draw is reproducible bit-for-bit in any SQL engine
    (no pow/ln float rounding at the k-th boundary). Cost: a length-w
    hash array per row (bounded by ``max_weight``; weights above it
    raise rather than silently clip). Exact mode REQUIRES integer
    weights >= 1: a positive non-integral weight (including the [0,1)
    quality scores calibration_report suggests as weights) raises at
    evaluation time instead of silently truncating to long — before
    round 11 a 0.7 weight truncated to 0 and the row was dropped, so
    an all-fractional corpus returned an EMPTY sample with no error.
    Use ``method="float"`` for fractional weights.

    ``method="float"``: priority ln(u)/w for arbitrary positive DOUBLE
    weights, O(1) per row — the 100 TB path (token-count weights in the
    millions would make the exact form's array explode). Deterministic
    given the seed, but the ln boundary is engine-libm-specific, so
    it's not oracle-portable; property coverage in test_filters.

    Both forms end in an orderBy(priority).limit(k) — Spark executes
    TakeOrdered (per-partition bounded heap, k rows to the driver's
    final merge), never a full global sort. With ``strata`` the top-k
    runs PER STRATUM instead (one hash exchange on the strata key +
    a k-bounded window heap per stratum — the weighted cousin of
    stratified_sample_exact_k, e.g. "k docs per language, weighted by
    quality score")."""
    if method not in ("exact", "float"):
        raise ValueError(f"method must be 'exact' or 'float', got {method!r}")
    w = F.col(weight_col)
    if method == "exact":
        wl = w.cast("long")
        pri = F.array_max(
            F.transform(
                F.sequence(F.lit(0).cast("long"), wl - 1),
                lambda r: F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{seed}:"),
                                r.cast("string"),
                                F.lit(":"),
                                F.col(id_col).cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        )
        pri = F.when(
            wl > max_weight,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"weighted_sample_k(method='exact') weight above "
                        f"max_weight={max_weight} for id "
                    ),
                    F.col(id_col).cast("string"),
                    F.lit("; use method='float' for large weights"),
                )
            ).cast("long"),
        ).otherwise(pri)
        # Integer-weight precondition, enforced IN the filter expression:
        # the old ``filter(wl >= 1)`` ran before any priority guard could
        # fire, so fractional weights were truncated-and-dropped silently
        # (weights in (0,1) all became 0 -> empty sample, no error). A
        # positive non-integral weight now raises row-side, pointing at
        # method='float'; exact zero / negative / NULL weights still
        # never sample, per the contract above.
        wd = w.cast("double")
        keep = F.when(
            wd.isNotNull() & (wd > 0) & (wd != wl.cast("double")),
            F.raise_error(
                F.concat(
                    F.lit(
                        "weighted_sample_k(method='exact') requires integer "
                        "weights >= 1; got non-integral weight "
                    ),
                    wd.cast("string"),
                    F.lit(" for id "),
                    F.col(id_col).cast("string"),
                    F.lit("; use method='float' for fractional weights"),
                )
            ).cast("boolean"),
        ).otherwise(wl >= 1)
        out = df.filter(keep)
    else:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        u = (h + F.lit(0.5)) / F.lit(float(1 << 60))
        pri = F.log(u) / w.cast("double")
        # NaN weights satisfy ``w > 0`` under Spark's NaN-greatest
        # ordering and would yield NaN priorities that sort FIRST under
        # desc(), silently filling the whole sample — exclude them
        # alongside NULL / non-positive weights (round-11 ADVICE).
        wd = w.cast("double")
        out = df.filter((wd > 0) & ~F.isnan(wd))
    out = out.withColumn("priority", pri)
    if strata:
        from pyspark.sql import Window

        win = Window.partitionBy(*strata).orderBy(
            F.desc("priority"), F.col(id_col)
        )
        out = (
            out.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    else:
        out = out.orderBy(F.desc("priority"), F.col(id_col)).limit(k)
    return out if keep_priority else out.drop("priority")
