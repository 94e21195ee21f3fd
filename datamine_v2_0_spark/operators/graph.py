"""Link-graph analytics: degrees and PageRank-style centrality.

Corpus-curation pipelines weight documents by the link structure of
their sources (the public CommonCrawl playbook scores hosts by web-graph
centrality before sampling); the reference's EDA corpus has no graph
operator, so this is part of the beyond-reference LLM-data surface.
PageRank follows the public formulation (Page et al. 1999; damping d,
rank' = (1-d)/n + d * Σ_in rank/out_degree).

Iteration count is a parameter (fixed small k), not a convergence
loop, so the driver never blocks on a data-dependent number of jobs and
the oracle can replay the exact same k steps.

Cross-engine float parity: each iteration's ranks are floor-quantized to
``quantize_dp`` decimals, snapping Spark's partial-agg summation order
and a SQL engine's sequential order onto the same grid — errors cannot
compound across iterations, so a hash-matched oracle holds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from datamine_v2_0_spark.operators.ckpt import iter_checkpoint

# PageRank iterations per rank-table checkpoint (see pagerank)
_CKPT_EVERY = 3


def _q(c: Column, dp: int) -> Column:
    """Half-up floor quantization — the SAME grid expression the
    timeseries family uses (floor(x*s + 0.5)/s): the cross-engine
    parity grid is a shared contract; keep the formulas byte-identical
    so one family can't silently drift off the hash-matched oracle."""
    scale = F.lit(float(10**dp))
    return F.floor(c * scale + F.lit(0.5)) / scale


def co_purchase_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_basket: int | None = 1000,
) -> DataFrame:
    """Symmetrized distinct co-occurrence edge list (src, dst): two
    items share an edge when they appear in the same group (order,
    basket, session, document).

    ``max_basket`` is the whale-basket guard: the self-join on the
    group key emits |basket|² rows per group, so a single pathological
    group (the skew-replica sweep plants a 17,903-line mega order —
    ~320M intermediate rows from a 60k-row table) dominates the whole
    job at any scale. Groups with more than ``max_basket`` items are
    EXCLUDED OUTRIGHT — their items contribute no edges from that
    group — the standard co-occurrence treatment (a 17k-item basket
    carries ~zero pairwise signal; capping contributions instead would
    keep a quadratic term). This silently changes results for any
    basket above the cap: pass ``max_basket=None`` to disable the
    guard and accept the quadratic blow-up, or tune the cap to the
    corpus. Typical organic baskets are single digits, so results on
    non-pathological data are unchanged at the default. The exclusion
    is lazy (no job runs at call time), so there is no runtime warning
    when the guard drops a basket — callers that need the signal run
    :func:`co_purchase_excluded` on the same inputs: one cheap
    aggregate listing exactly the groups the default silently dropped.
    """
    pairs = df.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
    )
    if max_basket is not None:
        # anti-join the WHALE set (groups over the cap) instead of
        # inner-joining the keep set: whales are few by definition (the
        # guard exists for pathological outliers), so the join's build
        # side is the tiny exclusion list rather than an aggregate the
        # size of the whole group universe. Identical surviving rows.
        whales = (
            pairs.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__bs"))
            .filter(F.col("__bs") > max_basket)
            .select("__g")
        )
        pairs = pairs.join(whales, "__g", "left_anti")
    a = pairs.alias("a")
    b = pairs.alias("b")
    # emit each undirected edge ONCE (src < dst), dedup, then mirror:
    # the distinct — the widest exchange here — carries half the rows,
    # and the union doubles them back without a shuffle. Same edge set
    # as the old i != j form (symmetrized distinct co-occurrence).
    half = (
        a.join(b, "__g")
        .filter(F.col("a.__i") < F.col("b.__i"))
        .select(F.col("a.__i").alias("src"), F.col("b.__i").alias("dst"))
        .distinct()
    )
    return half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def co_purchase_excluded(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_basket: int = 1000,
) -> DataFrame:
    """(group, basket_size) for every group the ``max_basket`` guard of
    :func:`co_purchase_edges` EXCLUDES at the same cap — the runtime
    signal the lazy operator itself cannot emit. One hash aggregate over
    two thin columns; ``.count()`` it for a drop tally, or collect it to
    audit which whales were cut before trusting the edge list."""
    return (
        df.select(F.col(group_col).alias("group"), F.col(item_col))
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias("basket_size"))
        .filter(F.col("basket_size") > max_basket)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
    quantize_dp: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: (node, rank).

    Nodes are the union of sources and destinations; initial rank is
    1/n. Dangling nodes (no out-edges) leak their mass — standard for
    the sampled-subgraph quality-weighting use; feed a symmetrized edge
    list (both directions) if the graph is undirected, which also
    eliminates dangling mass entirely.

    Each iteration: contribution = rank/out_deg shipped along edges
    (co-partitioned join on src), summed per destination, damped, and
    floor-quantized so the result is bit-reproducible across engines.
    The edge+degree table materializes once; iterations reuse it.

    Lineage cuts are durable exactly when the session has a checkpoint
    directory (see operators/ckpt).

    NOT LAZY: construction runs Spark jobs (the edge, node and degree
    cuts, and one cut per ``_CKPT_EVERY`` iterations), so building the
    DataFrame without executing it still pays the edge-derivation cost,
    and re-building the plan pays it again. Build once, reuse the
    returned DataFrame.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # materialize the edge list once: nodes, degrees, AND the join table
    # all derive from it, and the caller's edge derivation may itself be
    # a join (e.g. the co-purchase self-join) that must not run 3x
    e = iter_checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    ed = e.join(deg, "src")
    # n is ONE driver scalar, counted by the node cut's own job
    # (``observe``). As a literal it replaces a per-iteration
    # crossJoin(broadcast(agg)) subtree: one fewer broadcast exchange
    # and aggregate per iteration, identical double arithmetic.
    obs = Observation()
    nodes = iter_checkpoint(nodes.observe(obs, F.count(F.lit(1)).alias("n")))
    ed = iter_checkpoint(ed)
    n = float(obs.get["n"])
    if n == 0.0:
        # empty edge list → no nodes: return the empty (node, rank)
        # frame directly (the literal 1/n below would divide by zero
        # at plan time; the old crossJoin form produced zero rows)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    d = F.lit(float(damping))
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("rank"))
    zero = nodes.select("node", F.lit(0.0).alias("__c"))
    for i in range(n_iter):
        # contributions UNIONed with a 0.0 row per node, then ONE
        # aggregate: folds the old `nodes LEFT JOIN contrib` (a second
        # node-sized exchange + join per iteration) into the same
        # exchange as the contribution sum (guide §2.4). Bit-identical:
        # IEEE x + 0.0 == x, so the extra zero term never moves the sum,
        # and dangling nodes get exactly the 0.0 the coalesce supplied.
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
        )
        ranks = (
            contrib.unionAll(zero)
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
            .select(
                "node",
                _q(
                    F.lit((1.0 - float(damping)) / n) + d * F.col("__in"),
                    quantize_dp,
                ).alias("rank"),
            )
        )
        # truncate lineage every few iterations, not every one: each
        # checkpoint is a full materialization (a Spark job of fixed
        # overhead), and Catalyst handles a 2-3-iteration-deep plan
        # fine. Quantization stays PER ITERATION — the oracle's grid.
        # The last iteration never checkpoints (the caller's action
        # materializes it).
        if (i + 1) % _CKPT_EVERY == 0 and i + 1 < n_iter:
            ranks = iter_checkpoint(ranks)
    return ranks.select("node", F.round("rank", round_to).alias("rank"))
