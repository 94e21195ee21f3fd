"""Physical-plan audit over every registered contract query.

For each query: count exchanges, joins by strategy, Python boundaries,
cartesian products, and parquet scans, then flag scale anti-patterns:

- CartesianProduct anywhere (all-pairs — fatal at scale)
- BroadcastNestedLoopJoin beyond the known benign 1-row stat fold-ins
- row-at-a-time Python (BatchEvalPython — non-Arrow UDF)
- single-task windows: an Exchange SinglePartition feeding a
  Sort -> Window chain (a global ``Window.orderBy`` with no
  partitionBy funnels the WHOLE relation through ONE task — the
  round-5 Mann-Whitney/KS defect class, found then by review, now by
  this probe) beyond the audited bounded-relation allowlist
- unbounded broadcasts: explicit broadcast() hints whose subtree scans
  a corpus-scaled table with no aggregate/limit bounding it (plans are
  recompiled under autoBroadcastJoinThreshold=-1 so ONLY hint-forced
  broadcasts survive — Catalyst's size-based choices re-plan at scale
  and are not defects). This probe found six real hazards on its first
  run (round 7): asof/overlap/interval joins defaulted to broadcasting
  their right side and the registry fed them data-sized relations.

Writes PLANS.md and exits nonzero on any flag.

Usage: python tools/plan_audit.py [sf_dir]
       python tools/plan_audit.py --selftest   # prove the window probe
                                               # fires on a broken plan
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# queries whose BroadcastNestedLoopJoins are deliberate 1-row or
# tiny-literal fold-ins (corpus stats, thresholds) — linear, not
# all-pairs. Value = audited maximum; one more than audited is a flag.
BNLJ_OK = {
    "text_bm25": 1, "text_tfidf": 1, "text_lm_score": 1,
    "text_decontaminate": 1, "filt_balance_strata": 1,
    "filt_token_budget": 1, "pipeline_curation": 1,
    "dedup_lines": 1, "agg_incremental": 1, "sim_cosine_topk": 1,
    # broadcast of the 5 probe queries with a != self predicate — the
    # shortlist side is tiny by construction (k-probe ANN), linear scan
    "sim_pq_topk": 1,
    # deliberate replication of the SMALL side across the salt literals
    # (the whole point of the salted join); small x n_salts stays small
    "join_salted": 1,
    # cosine probe-set broadcast (tiny by construction) + the BM25 corpus
    # stats 1-row fold — both linear over the corpus
    "text_rrf": 2,
    # composes text_bm25, so it inherits the same 1-row corpus-stats
    # fold-in; the eval joins themselves are equi (query, doc) hash joins
    "text_retrieval_eval": 1,
    # reference min/max (1 row) folded into both binned sides, the
    # n_bins-row grid joins, and the 1-row totals — all constant-size
    "qa_psi": 5,
    # stratum-weight total: 1-row fold into the rate table
    "filt_temperature_mix": 1,
    # 1-row bin-gap summary x 1-row Brier aggregate literal join
    "stat_calibration": 1,
    # 1-row token-totals fold into the per-term relation
    "text_js_divergence": 1,
    # the 1-row node-count folds into the init ranks and each of the 5
    # fixed power-method iterations — all constant-size broadcasts
    "graph_pagerank": 6,
    # data-derived histogram bounds: 1-row min/max fold into the binning
    "agg_histogram": 1,
    # 1-row stratum-count total folds into the share computation
    "agg_diversity": 1,
    # 1-row global err_ub (sum of per-partition MG decrements) folds
    # into the merged summary
    "agg_heavy_hitters": 1,
    # 1-row corpus (N, V) totals fold into the per-bigram probabilities
    "text_lm_bigram": 1,
    # 1-row (na, nb) totals fold into the ECDF normalization
    "stat_ks": 1,
    # contingency-grid completion: distinct rows x distinct columns
    # cross (bounded by category cardinality r*c, never data volume) —
    # unobserved cells must contribute E to the statistic
    "stat_chi2": 1,
    # 1-row chance-agreement numerator folds into the kappa computation
    "stat_kappa": 1,
    # 1-row grand-total fold into the grouped counts (replaced the
    # single-task empty-partition window, round-7)
    "agg_fraction": 1,
    # 1-row row-count fold into the closed-form NTILE arithmetic
    # (replaced the single-task global NTILE window, round-7)
    "scalar_quantile_bins": 1,
}
# the exact-ANN baseline is an intentional documented cross join
CARTESIAN_OK = {"sim_cosine_topk"}

# queries whose global (no-partitionBy) windows run over relations
# BOUNDED by construction — never by data volume. Value = audited
# maximum count of SinglePartition->Sort->Window chains; one more than
# audited is a flag. Boundedness argument per entry:
GLOBAL_WIN_OK = {
    # _dist_prefix_sums stitches bucket offsets with one global window
    # over the bucket-totals relation: exactly `buckets` rows (32),
    # set by the range exchange, independent of data volume. KS prints
    # the SAME bounded subtree twice (its cum relation feeds both the
    # max-aggregate and the crossJoin side).
    "stat_ks": 2,
    "agg_mannwhitney": 1,
    # roc_auc shares mann_whitney's rank machinery, so the same
    # 32-row offsets stitch appears once
    "stat_auc": 1,
    # same _dist_prefix_sums offsets stitch inside the scale-safe exact
    # NTILE (operators/binning.quantile_bins_exact)
    "scalar_quantile_bins": 1,
    # marginal sums over the completed contingency grid: r*c rows,
    # bounded by category cardinality, never data volume (same bound
    # as the BNLJ_OK grid-completion entry)
    "stat_chi2": 1,
}


def _tree_depth(line: str) -> int:
    """Indent depth of a Spark plan-tree line (prefix of tree-drawing
    chars ' :+|-' before the node name)."""
    i = 0
    while i < len(line) and line[i] in " :+|-*(":
        i += 1
    return i


_PASSTHROUGH = ("AQEShuffleRead", "ShuffleQueryStage", "InputAdapter",
                "WholeStageCodegen", "CollectMetrics")


def dedupe_cached_subtrees(plan: str) -> str:
    """Fold every persisted-relation BUILD subtree into the text ONCE.

    A plan that reads a persisted relation embeds the relation's build
    plan (with its exchanges) under each InMemoryRelation node, but that
    subtree executes once at cache materialization — counting it per
    reuse over-reports the live cost of plans that read a persisted
    frame (the ``q_dedup_groups`` memo that ``q_dedup_canonical``
    filters). Keeps one copy of each DISTINCT cached subtree so an
    anti-pattern inside a cache build is still counted (once, as it
    runs)."""
    live: list[str] = []
    cached: list[str] = []
    cur: list[str] | None = None
    cur_depth = -1
    for line in plan.splitlines():
        d = _tree_depth(line)
        if cur is not None:
            if d > cur_depth:
                cur.append(line)
                continue
            cached.append("\n".join(cur))
            cur = None
        if "InMemoryRelation" in line:
            cur = [line]
            cur_depth = d
            continue
        live.append(line)
    if cur is not None:
        cached.append("\n".join(cur))

    def _final_only(subtree: str) -> str:
        # a MATERIALIZED cache embeds its AdaptiveSparkPlan as
        # "== Final Plan == ... == Initial Plan == ..."; only the final
        # plan executed — drop the initial section before counting.
        # Normalize indentation: the same cache embedded at different
        # tree depths must dedupe to one copy.
        lines = []
        for ln in subtree.splitlines():
            if "== Initial Plan ==" in ln:
                break
            lines.append(ln.lstrip(" :+-|"))
        return "\n".join(lines)

    # two references to the SAME cache print re-aliased expr-ids
    # (g#1L vs g#70L) and fresh plan_ids — strip both from the key
    uniq: dict[str, str] = {}
    for c in cached:
        body = _final_only(c)
        key = re.sub(r"#\d+|plan_id=\d+", "", body)
        uniq.setdefault(key, body)
    return "\n".join(live + sorted(uniq.values()))


def count_single_task_windows(plan: str) -> int:
    """Count Exchange SinglePartition nodes whose consumer chain is
    Sort -> Window (or Window directly): the 'global ordered window'
    shape that funnels its entire input relation through one task.

    Tree-parses the plan text: for each SinglePartition exchange, walk
    UP to strictly-shallower ancestor nodes (parents print above their
    children in Spark's tree rendering), skipping AQE/codegen
    pass-through wrappers, and match the first two real ancestors."""
    lines = plan.splitlines()
    n = 0
    for idx, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        ancestors: list[str] = []
        cur = _tree_depth(ln)
        for j in range(idx - 1, -1, -1):
            dj = _tree_depth(lines[j])
            if dj >= cur:
                continue
            cur = dj
            node = lines[j].strip(" :+|-")
            if node.startswith(_PASSTHROUGH):
                if dj == 0:
                    break
                continue
            ancestors.append(node)
            if len(ancestors) >= 2 or dj == 0:
                break
        if not ancestors:
            continue
        first = ancestors[0]
        second = ancestors[1] if len(ancestors) > 1 else ""
        if first.startswith("Window") or (
            first.startswith("Sort") and second.startswith(("Window", "WindowGroupLimit"))
        ):
            n += 1
    return n


# tables whose size scales with the corpus — broadcasting one of these
# RAW is a driver/executor OOM at 100 TB (region/nation and fixture
# VALUES frames are genuinely constant-size and exempt)
_BIG_TABLES = ("customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings")
# nodes that bound a subtree's cardinality regardless of input size
_BOUNDING = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
             "CollectLimit", "GlobalLimit", "LocalLimit",
             "TakeOrderedAndProject")

# queries whose big-table broadcast subtrees are BOUNDED by
# construction despite carrying no aggregate/limit node on the path —
# value = audited maximum count; one more than audited is a flag.
# Justification per entry:
BROADCAST_OK = {
    # eval/query-side documents or embeddings subsets selected by id or
    # source filter: bounded by the benchmark-suite / probe-set size a
    # user supplies, not by corpus volume (decontamination grams, ANN
    # query frames, BM25/RRF query terms). At scale the eval set is
    # thousands of rows vs billions of corpus rows.
    "text_decontaminate": 1,
    "text_decontaminate_embed": 1,
    "sim_bucketed_topk": 1,
    "sim_lsh_topk": 1,
    "sim_ivf_topk": 2,   # probe frame + learned-centroid frame
    "sim_pq_topk": 1,
    "text_rrf": 1,
    "text_bm25": 1,
    # cross-corpus dedup broadcasts the FRESH-CRAWL side's buckets by
    # design (documented small side); the corpus side never broadcasts
    "dedup_against": 1,
}


def count_unbounded_broadcasts(plan: str) -> int:
    """Count BroadcastExchange nodes whose subtree scans a
    corpus-scaled table with NO aggregate/limit between the exchange
    and the scan — the 'broadcast a data-sized relation' shape that
    works at sf0.1 and OOMs the driver at 100 TB. Filters/projections
    do NOT bound (a predicate's selectivity scales with the data);
    only aggregates and limits do.

    MUST be fed a plan compiled under
    ``spark.sql.autoBroadcastJoinThreshold=-1``: with size-based
    broadcasts disabled, every surviving BroadcastExchange comes from
    an EXPLICIT broadcast() hint — the only kind that still forces a
    broadcast when the data is 10^7 times bigger (Catalyst's own
    size-threshold choices at test scale re-plan to shuffle joins at
    real scale and are not defects)."""
    lines = plan.splitlines()
    n = 0
    for idx, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d0 = _tree_depth(ln)
        j = idx + 1
        sub: list[int] = []
        while j < len(lines) and _tree_depth(lines[j]) > d0:
            sub.append(j)
            j += 1
        for j2 in sub:
            l2 = lines[j2]
            if "Scan parquet" not in l2:
                continue
            if not any(f"{t}.parquet" in l2 for t in _BIG_TABLES):
                continue
            # ancestor walk from the scan back up to the exchange
            cur = _tree_depth(l2)
            bounded = False
            for k in range(j2 - 1, idx, -1):
                dk = _tree_depth(lines[k])
                if dk >= cur:
                    continue
                cur = dk
                if lines[k].strip(" :+|-*(").startswith(_BOUNDING):
                    bounded = True
                    break
            if not bounded:
                n += 1
                break  # one flag per exchange, not per scan
    return n


def _selftest() -> None:
    """Prove the probe fires: build a deliberately-broken global ordered
    window over an unbounded relation (the exact round-5 MW/KS defect
    shape) and a correct partitioned one, and assert the counts."""
    from pyspark.sql import Window, functions as F

    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("plan_audit_selftest")
    df = spark.range(100_000).select(
        (F.col("id") % 7).alias("g"), F.col("id").cast("double").alias("v")
    )
    broken = df.withColumn(
        "cum", F.sum("v").over(Window.orderBy("v"))  # no partitionBy!
    )
    p_broken = broken._jdf.queryExecution().executedPlan().toString()
    got = count_single_task_windows(p_broken)
    assert got == 1, f"probe must fire on the broken fixture, got {got}\n{p_broken}"

    ok = df.withColumn(
        "cum", F.sum("v").over(Window.partitionBy("g").orderBy("v"))
    )
    p_ok = ok._jdf.queryExecution().executedPlan().toString()
    got_ok = count_single_task_windows(p_ok)
    assert got_ok == 0, f"probe must stay silent on the partitioned fixture, got {got_ok}\n{p_ok}"

    # a plain global aggregate's SinglePartition exchange (bounded
    # partial-agg output) must NOT trip the probe
    agg = df.agg(F.sum("v").alias("s"))
    p_agg = agg._jdf.queryExecution().executedPlan().toString()
    assert count_single_task_windows(p_agg) == 0

    # --- unbounded-broadcast probe (hint-forced plans only) ---
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dim = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    # broken: broadcast a RAW corpus-scaled table (filter does not bound)
    bad = dim.join(
        F.broadcast(docs.filter(F.col("lang") == "en")),
        F.lit(True), "left",
    )
    p_bad = bad._jdf.queryExecution().executedPlan().toString()
    got_b = count_unbounded_broadcasts(p_bad)
    assert got_b == 1, f"broadcast probe must fire on raw-corpus broadcast, got {got_b}\n{p_bad}"
    # fine: broadcast an AGGREGATE of the corpus (bounded by keys)
    ok_b = dim.join(
        F.broadcast(docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))),
        F.lit(True), "left",
    )
    p_okb = ok_b._jdf.queryExecution().executedPlan().toString()
    assert count_unbounded_broadcasts(p_okb) == 0, p_okb
    # fine: broadcast a constant-size dim table
    ok_d = docs.join(F.broadcast(dim), F.lit(True), "left")
    p_okd = ok_d._jdf.queryExecution().executedPlan().toString()
    assert count_unbounded_broadcasts(p_okd) == 0, p_okd
    # fine: an UN-hinted big-table join never plans a BroadcastExchange
    # under threshold=-1 (this is what exonerates Catalyst's size-based
    # choices at test scale)
    ok_u = docs.alias("x").join(
        docs.alias("y"), F.col("x.doc_id") == F.col("y.doc_id")
    )
    p_oku = ok_u._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in p_oku, p_oku
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # --- cached-subtree dedup: a persisted relation reused twice embeds
    # its build plan (with the build exchange) under each reuse; the
    # deduped text must count that exchange once ---
    cached = df.repartition(8, "g").persist()
    cached.count()
    try:
        reuse = cached.union(cached)
        p_reuse = reuse._jdf.queryExecution().executedPlan().toString()
        raw_n = p_reuse.count("Exchange hashpartitioning")
        dedup_n = dedupe_cached_subtrees(p_reuse).count(
            "Exchange hashpartitioning"
        )
        # each embed shows the build exchange in BOTH the final and the
        # initial AQE plan sections -> 2 embeds x 2 sections raw
        assert raw_n == 4, f"fixture expects 2 embeds x 2 AQE sections, got {raw_n}\n{p_reuse}"
        assert dedup_n == 1, f"deduped text must keep the build exchange once, got {dedup_n}"
    finally:
        cached.unpersist()

    print("selftest OK: window probe fires on global-window fixture, "
          "silent on partitioned window and global aggregate; broadcast "
          "probe fires on raw-corpus broadcast, silent on aggregated and "
          "dim-table broadcasts; cached-subtree dedup counts a reused "
          "cache build once")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        _selftest()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import DataFrame

    from datamine_v2_0_spark.contract import QUERIES
    from datamine_v2_0_spark.session import get_spark

    # `localCheckpoint` severs lineage, so the post-hoc plan of a
    # checkpointed query (pagerank iterations, BM25 posting build,
    # CC blocks, curation barrier) audits as near-empty. Wrap it
    # for the audit's duration: record the physical plan of every
    # DataFrame BEING checkpointed, then delegate — the audit counts
    # the union of the final plan and all severed subplans.
    captured: list = []
    # patch the CLASSIC DataFrame too — pyspark 4 instances resolve
    # their own override, not the pyspark.sql.DataFrame base method
    targets = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        targets.append(_CDF)
    except ImportError:
        pass
    for cls in targets:
        orig_ckpt = cls.__dict__.get("localCheckpoint")
        if orig_ckpt is None:
            continue

        def recording_ckpt(self, *args, _orig=orig_ckpt, **kwargs):
            try:
                captured.append(
                    self._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:  # noqa: BLE001
                pass
            return _orig(self, *args, **kwargs)

        cls.localCheckpoint = recording_ckpt

    # duplication probes run while a query is BUILT: none since the
    # collapse routing moved inside the plans; a probe coming back flags
    from datamine_v2_0_spark.operators import dedup as _dd

    probes = [0]
    real_dup_stats = _dd.dup_stats

    def counting_dup_stats(*args, **kwargs):
        probes[0] += 1
        return real_dup_stats(*args, **kwargs)

    _dd.dup_stats = counting_dup_stats

    spark = get_spark("plan_audit")

    rows = []
    flags = []
    for name, (fn, _sql) in QUERIES.items():
        try:
            captured.clear()
            probes0 = probes[0]
            df = fn(spark, sf_dir)
            n_probes = probes[0] - probes0
            p = df._jdf.queryExecution().executedPlan().toString()
            n_sub = len(captured)
            if n_sub:
                p = "\n".join([p, *captured])
        except Exception as ex:  # noqa: BLE001
            flags.append(f"{name}: plan build failed: {ex}")
            continue
        # second compile with size-based broadcasts disabled: any
        # BroadcastExchange that SURVIVES comes from an explicit hint —
        # the only kind that still forces a broadcast at 100 TB
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            captured.clear()
            df2 = fn(spark, sf_dir)
            p2 = df2._jdf.queryExecution().executedPlan().toString()
            if captured:
                p2 = "\n".join([p2, *captured])
        except Exception:  # noqa: BLE001
            p2 = p  # fall back to the sized plan (over-counts, never under)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        p = dedupe_cached_subtrees(p)
        p2 = dedupe_cached_subtrees(p2)
        stats = {
            "exch": p.count("Exchange hashpartitioning")
            + p.count("Exchange rangepartitioning"),
            "bhj": p.count("BroadcastHashJoin"),
            "smj": p.count("SortMergeJoin"),
            "bnlj": p.count("BroadcastNestedLoopJoin"),
            "cart": p.count("CartesianProduct"),
            "arrow_py": p.count("ArrowEvalPython")
            + p.count("FlatMapGroupsInPandas")
            + p.count("MapInPandas"),
            "row_py": p.count("BatchEvalPython"),
            "scans": p.count("Scan parquet"),
            "sub": n_sub,
            "win1": count_single_task_windows(p),
            "ubc": count_unbounded_broadcasts(p2),
            "probes": n_probes,
        }
        rows.append((name, stats))
        if stats["cart"] and name not in CARTESIAN_OK:
            flags.append(f"{name}: CartesianProduct in plan")
        if stats["bnlj"] > BNLJ_OK.get(name, 0):
            flags.append(f"{name}: unexpected BroadcastNestedLoopJoin x{stats['bnlj']}")
        if stats["row_py"]:
            flags.append(f"{name}: row-at-a-time Python (BatchEvalPython)")
        if stats["win1"] > GLOBAL_WIN_OK.get(name, 0):
            flags.append(
                f"{name}: single-task ordered window x{stats['win1']} "
                "(Exchange SinglePartition -> Sort -> Window)"
            )
        if stats["probes"]:
            flags.append(
                f"{name}: {stats['probes']} duplication probes (dedup.dup_stats) "
                "while the query is built"
            )
        if stats["ubc"] > BROADCAST_OK.get(name, 0):
            flags.append(
                f"{name}: unbounded corpus-table broadcast x{stats['ubc']} "
                "(BroadcastExchange over a raw data-sized scan)"
            )

    hdr = (
        "# PLANS — physical-plan audit of every contract query\n\n"
        f"Generated by `tools/plan_audit.py` at {sf_dir}. Columns: hash/range\n"
        "exchanges, joins by strategy (broadcast-hash / sort-merge /\n"
        "broadcast-nested-loop), Arrow-batched vs row-at-a-time Python\n"
        "boundaries, parquet scans, and the number of localCheckpoint-severed\n"
        "subplans folded back into the audit (counts are the UNION of the\n"
        "final plan and every pre-checkpoint subplan — iterative queries are\n"
        "no longer a blind spot; persisted-relation BUILD subtrees are\n"
        "counted ONCE, as they execute, not once per cache reuse).\n"
        "BNLJ entries are audited 1-row stat\n"
        "fold-ins or bounded category-grid completions (see BNLJ_OK); the\n"
        "cartesian column is all zeros — the exact-ANN baseline's\n"
        "documented cross join plans as a BNLJ, so no CartesianProduct\n"
        "node appears in any of the audited plans. The 1task-win column\n"
        "counts Exchange SinglePartition -> Sort -> Window chains (a\n"
        "global ordered window funnels its whole input through ONE task);\n"
        "nonzero entries are audited bounded-relation stitches (the\n"
        "_dist_prefix_sums bucket-offsets window: exactly `buckets` rows\n"
        "by construction — see GLOBAL_WIN_OK). The probes column counts\n"
        "the duplication probes (dedup.dup_stats) a query runs while it\n"
        "is built; any is flagged: every collapse-capable operator routes\n"
        "its duplicate groups inside its plan. tests/test_ckpt.py pins\n"
        "every build-time action per query.\n\n"
        "| query | exch | bhj | smj | bnlj | cartesian | arrow-py | row-py | scans | ckpt-subplans | 1task-win | unbounded-bcast | probes |\n"
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    )
    lines = [
        f"| {n} | {s['exch']} | {s['bhj']} | {s['smj']} | {s['bnlj']} "
        f"| {s['cart']} | {s['arrow_py']} | {s['row_py']} | {s['scans']} "
        f"| {s['sub']} | {s['win1']} | {s['ubc']} | {s['probes']} |"
        for n, s in rows
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(hdr + "\n".join(lines) + "\n")
    print(f"{len(rows)} plans audited, {len(flags)} flags")
    for fl in flags:
        print("FLAG:", fl)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
