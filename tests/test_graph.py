"""Link-graph operators: degrees and fixed-iteration PageRank."""

from __future__ import annotations

import pytest

from datamine_v2_0_spark.operators import graph as gr


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["src", "dst"])


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_pagerank_star_hub_dominates(spark):
    # hub 0 connected to leaves 1..4 (symmetric)
    e = _edges(spark, _sym([(0, i) for i in range(1, 5)]))
    got = {r["node"]: r["rank"] for r in gr.pagerank(e, n_iter=10).collect()}
    assert len(got) == 5
    assert all(got[0] > got[i] for i in range(1, 5))
    # leaves are symmetric -> identical ranks
    assert len({got[i] for i in range(1, 5)}) == 1
    # symmetrized graph has no dangling mass: ranks sum to ~1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_ring_uniform(spark):
    n = 6
    e = _edges(spark, _sym([(i, (i + 1) % n) for i in range(n)]))
    got = {r["node"]: r["rank"] for r in gr.pagerank(e, n_iter=5).collect()}
    for v in got.values():
        assert v == pytest.approx(1.0 / n, abs=1e-6)


def test_pagerank_one_iteration_hand_value(spark):
    # directed 2-node: 0 -> 1; n=2, d=0.85
    # r0 = [.5, .5]; r1(0) = .15/2 = .075 ; r1(1) = .075 + .85*.5 = .5
    e = _edges(spark, [(0, 1)])
    got = {r["node"]: r["rank"] for r in gr.pagerank(e, n_iter=1).collect()}
    assert got[0] == pytest.approx(0.075, abs=1e-9)
    assert got[1] == pytest.approx(0.5, abs=1e-9)


def test_pagerank_dangling_leaks_mass(spark):
    # 0 -> 1 with no out-edge from 1: total mass < 1 after iterations
    e = _edges(spark, [(0, 1)])
    got = {r["node"]: r["rank"] for r in gr.pagerank(e, n_iter=5).collect()}
    assert got[1] > got[0]
    assert sum(got.values()) < 1.0


def test_pagerank_rejects_zero_iters(spark):
    e = _edges(spark, [(0, 1)])
    with pytest.raises(ValueError):
        gr.pagerank(e, n_iter=0)


def _baskets(spark, groups):
    """groups: {group_id: [items]} -> (group, item) rows."""
    rows = [(g, i) for g, items in groups.items() for i in items]
    return spark.createDataFrame(rows, ["g", "item"])


def test_co_purchase_edges_basic(spark):
    df = _baskets(spark, {1: [10, 20, 30], 2: [20, 40]})
    got = {
        (r["src"], r["dst"])
        for r in gr.co_purchase_edges(df, "g", "item").collect()
    }
    want = {(10, 20), (20, 10), (10, 30), (30, 10), (20, 30), (30, 20),
            (20, 40), (40, 20)}
    assert got == want


def test_co_purchase_edges_max_basket_boundary(spark):
    # basket 1 has exactly max_basket items (kept), basket 2 has
    # max_basket+1 (excluded outright — contributes NO edges)
    df = _baskets(spark, {1: [1, 2, 3], 2: [4, 5, 6, 7]})
    got = {
        (r["src"], r["dst"])
        for r in gr.co_purchase_edges(df, "g", "item", max_basket=3).collect()
    }
    assert got == {(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)}
    # items of the excluded basket appear in NO edge
    assert not any(4 in e or 5 in e or 6 in e or 7 in e for e in got)


def test_co_purchase_edges_max_basket_none_disables(spark):
    df = _baskets(spark, {1: list(range(10))})
    n = gr.co_purchase_edges(df, "g", "item", max_basket=None).count()
    assert n == 10 * 9  # full symmetric pair set, no guard
    n_capped = gr.co_purchase_edges(df, "g", "item", max_basket=9).count()
    assert n_capped == 0


def test_co_purchase_excluded_reports_dropped_whales(spark):
    """The guard's runtime signal: co_purchase_excluded lists exactly
    the groups co_purchase_edges drops at the same cap — the audit a
    lazy operator cannot emit as a warning."""
    df = _baskets(spark, {1: [1, 2], 2: list(range(10, 16)), 3: [7]})
    dropped = {
        (r["group"], r["basket_size"])
        for r in gr.co_purchase_excluded(df, "g", "item", max_basket=3).collect()
    }
    assert dropped == {(2, 6)}
    # parity with the operator: no edges from the excluded basket
    edges = gr.co_purchase_edges(df, "g", "item", max_basket=3)
    items_in_edges = {r["src"] for r in edges.collect()}
    assert items_in_edges == {1, 2}
    # cap above every basket: nothing reported
    assert gr.co_purchase_excluded(df, "g", "item", max_basket=6).count() == 0
