"""Binning operators (SURVEY.md §2.8 math/numeric family).

Behavioral reference: ckpronto/datamine_v2.0 uses ``pd.cut`` (fixed edges)
and ``pd.qcut`` (quantile bins) for EDA feature bucketing
(``STEP 3 - EDA Analysis/database_pipeline.py:386-393,431-436,454-459,520-522``).

Scale notes: fixed-width/explicit-edge binning is pure arithmetic (codegen,
map-only). Exact quantile binning needs a total order (NTILE), which
``quantile_bins_exact`` computes from distributed prefix sums rather than
one global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fixed_width_bins(
    col: Column, lo: float, hi: float, nbins: int
) -> Column:
    """pd.cut-with-uniform-edges parity: bin index 0..nbins-1 over
    [lo, hi]; right-exclusive except the last bin includes hi; outside
    range → NULL."""
    width = (hi - lo) / nbins
    # least() clamp: width is a floating division, and for values one
    # ulp under hi the quotient can floor to nbins (reproduced:
    # hi=495.43559165685383, nbins=30, col=nextafter(hi) -> 30) — an
    # out-of-range phantom bin the range guard can't catch
    idx = F.least(
        F.lit(nbins - 1),
        F.floor((col - F.lit(lo)) / F.lit(width)).cast("int"),
    )
    return F.when((col >= lo) & (col <= hi), idx).otherwise(
        F.lit(None).cast("int")
    )


def explicit_bins(col: Column, edges: Sequence[float]) -> Column:
    """pd.cut with explicit edges: bin i covers (edges[i], edges[i+1]]
    (pandas right-closed default); below/above → NULL."""
    expr = F.lit(None).cast("int")
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        expr = F.when((col > F.lit(lo)) & (col <= F.lit(hi)), F.lit(i)).otherwise(
            expr
        )
    return expr


def quantile_bins_exact(
    df: DataFrame,
    col: str,
    nbins: int,
    out: str,
    tiebreak: str,
    buckets: int = 32,
    check_unique: bool = False,
) -> DataFrame:
    """pd.qcut parity: exact NTILE(nbins)-1 over the global
    (col, tiebreak) order. ``tiebreak`` must be a UNIQUE key — it makes
    the ordering total, so the bin of every row is deterministic; a
    NON-unique tiebreak does not fail, it silently yields layout-
    dependent bins for the tied rows (the `_dist_prefix_sums`
    distinct-key precondition). Pass ``check_unique=True`` to pay one
    count/count_distinct aggregation that makes the violation loud —
    meant for tests and first-run validation, not the hot path.

    Scale shape (round-7 rewrite): the old form was a global
    ``Window.orderBy`` NTILE, which funnels the ENTIRE relation through
    ONE task (the exact single-task-window anti-pattern
    `tools/plan_audit.py` now probes for). Now the global 1-based rank
    comes from `stats._dist_prefix_sums` — range-partitioned cumulative
    counts stitched with broadcast bucket offsets, every stage parallel
    — and the NTILE bucket is closed-form arithmetic on (rank, n):
    NULLs in ``col`` rank first (Spark's ASC default) — mind that
    engines differ here (DuckDB/Postgres default NULLS LAST), so keep
    the input non-null where cross-engine parity matters.

    with n rows and k buckets the first n mod k buckets hold
    floor(n/k)+1 rows (SQL NTILE semantics), so
      bucket(r) = ceil(r/(base+1))                 if r <= rem*(base+1)
                = rem + ceil((r-rem*(base+1))/base) otherwise
    with base = floor(n/k), rem = n mod k."""
    from datamine_v2_0_spark.operators.stats import _dist_prefix_sums

    if check_unique:
        chk = df.agg(
            F.count(F.lit(1)).alias("n"),
            # struct-wrapped so NULLs in `col` still count as rows (bare
            # multi-arg count_distinct drops any row with a NULL field)
            F.count_distinct(F.struct(F.col(col), F.col(tiebreak))).alias("nd"),
        ).first()
        if chk["n"] != chk["nd"]:
            raise ValueError(
                f"quantile_bins_exact: tiebreak {tiebreak!r} is not unique "
                f"({chk['n']} rows, {chk['nd']} distinct ({col}, {tiebreak}) "
                "pairs) — bins would be layout-dependent for tied rows"
            )
    rel = df.withColumn(
        "__ord", F.struct(F.col(col), F.col(tiebreak))
    ).withColumn("__one", F.lit(1).cast("long"))
    ranked = _dist_prefix_sums(
        rel, "__ord", ["__one"], include_current=True, buckets=buckets
    )
    total = ranked.agg(F.sum("__one").alias("__n"))
    r = F.col("__cum___one").cast("double")
    n = F.col("__n").cast("long")
    k = F.lit(int(nbins)).cast("long")
    base = F.floor(n / k).cast("long")
    rem = n % k
    big = (rem * (base + F.lit(1))).cast("double")
    bucket = F.when(
        r <= big, F.ceil(r / (base + F.lit(1)).cast("double"))
    ).otherwise(
        # greatest(base,1): base=0 only when n<k, where r<=big always
        # holds — the guard keeps the dead branch ANSI-safe
        rem
        + F.ceil((r - big) / F.greatest(base, F.lit(1)).cast("double"))
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(out, (bucket - 1).cast("int"))
        .drop("__ord", "__one", "__cum___one", "__n")
    )
