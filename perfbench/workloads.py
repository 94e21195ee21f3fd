"""The benchmark's workloads: what one pass runs, how its outputs are
checked, and how a traced pass is split into per-layer numbers.

Every call into the engine goes through its public functions (the
registry in ``contract.QUERIES``, ``pipeline``, ``sources``,
``operators.dedup``, ``functions.signal``); the spans around those calls
are the layer boundaries.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import inputs
from spans import REPEAT_COUNTERS, EventLog, Tracer


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float = 0.0
    op_s: dict = field(default_factory=dict)
    attempted: int = 0
    failures: list = field(default_factory=list)
    spans: list = field(default_factory=list)  # top-level call spans, traced passes only


def _median(values):
    return statistics.median(values) if values else 0.0


def call_counters(res: PassResult, tr: Tracer, log: EventLog) -> dict:
    """Per top-level call of a traced pass: its load-independent counters,
    and the jobs its build spans launched (the work done before the
    DataFrame exists)."""
    out = {}
    for sp in res.spans:
        spans = tr.subtree(sp)
        c = log.counters(spans)
        out[sp.name] = {k: c[k] for k in REPEAT_COUNTERS}
        builds = [s for s in spans if s.name.endswith("build")]
        out[sp.name]["build_jobs"] = log.counters(builds)["jobs"]
    return out


def digest(df) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a DataFrame: the sum of each
    row's xxhash64, doubles rounded to 6 places first. Computing it is
    the pass's sink, so every output of every pass is checked."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(df[f.name], 6) if isinstance(f.dataType, (DoubleType, FloatType))
        else df[f.name]
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).first()
    return int(row["n"]), str(row["s"] or 0)


_P1, _P2, _P3, _P4, _P5 = (np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
))


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def long_digest(rows) -> tuple[int, str]:
    """``digest`` of a table of non-null long columns, computed in numpy:
    Spark's xxhash64 (seed 42, each column's hash seeding the next) per
    row, summed as signed 64-bit values. The dedup outputs are all long
    columns, so their expected digests need no Spark job."""
    a = np.asarray(rows, dtype=np.int64).reshape(len(rows), -1).view(np.uint64)
    h = np.full(len(a), 42, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col in a.T:
            h = h + _P5 + np.uint64(8)
            h ^= _rotl(col * _P2, 31) * _P1
            h = _rotl(h, 27) * _P1 + _P4
            h ^= h >> np.uint64(33)
            h *= _P2
            h ^= h >> np.uint64(29)
            h *= _P3
            h ^= h >> np.uint64(32)
    return len(a), str(sum(int(v) for v in h.view(np.int64)))


class DedupHot:
    """dedup_hot: the registry's exact-dedup and duplicate-group queries
    over a seeded corpus with a viral group big enough that
    duplicate_collapse='auto' picks the collapsed plans, so the probe,
    the collapsed pair graph (jaccard_pairs_inverted) and connected
    components are all exercised. dedup_minhash_lsh and dedup_against
    are left out of the pass: each adds about 4 s warm and twice that
    cold, which the run budget has no room for. The traced run still
    calls minhash_near_dup_pairs for the pair-yield numbers."""

    name = "dedup_hot"
    # warm passes of 8-10 s for --seconds, at least one: the budget of 22
    # runs per workload leaves room for no more after the cold pass
    min_warm = 1
    # registry query -> the operators.dedup call it is built around
    QUERIES = {
        "dedup_exact_keep": "exact_dedup",
        "dedup_groups": "dedup_groups",
        "dedup_canonical": "canonical_ids",
    }

    def __init__(self, seed: int, work: str):
        self.sf_dir = os.path.join(work, "sf")
        self.corpus = inputs.HotCorpus(seed)
        self.input_rows = self.corpus.rows
        self.digests: list[dict] = []  # one {query: (rows, hash)} per pass
        self.plan_auto: dict[str, str] = {}

    def prepare(self) -> dict:
        c = self.corpus
        return {
            "tables": {"documents": c.write(self.sf_dir)},
            "planted": {
                "viral_copies": len(c.clusters[0]),
                "exact_groups": len(c.clusters) - 1,
                "exact_group_size": len(c.clusters[1]) if len(c.clusters) > 1 else 0,
                "near_pairs": len(c.near),
            },
        }

    def warm_path(self) -> str:
        return os.path.join(self.sf_dir, "documents.parquet")

    def run_pass(self, spark, tr: Tracer) -> PassResult:
        from datamine_v2_0_spark.contract import QUERIES

        res = PassResult(0.0)
        out = {}
        t_pass = time.perf_counter()
        for q in self.QUERIES:
            res.attempted += 1
            try:
                with tr.span(q, "queries") as sp:
                    with tr.span("build", "queries"):
                        df = QUERIES[q][0](spark, self.sf_dir)
                    if tr.enabled:
                        with tr.span("plan", "catalyst"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec", "execution"):
                        out[q] = digest(df)
                    if sp is not None:
                        res.spans.append(sp)
            except Exception:
                res.failures.append(f"{q}: {traceback.format_exc(limit=3)}")
        res.wall_s = time.perf_counter() - t_pass
        self.digests.append(out)
        return res

    def check(self, spark) -> list[str]:
        bad = []
        for q, rows in self.corpus.expected().items():
            want = long_digest(rows)
            for i, got in enumerate(self.digests):
                if q in got and got[q] != want:
                    bad.append(f"pass {i} {q}: got (rows, hash) {got[q]}, expected {want}")
        return bad

    def describe(self, spark) -> dict:
        """Duplication statistics of the corpus and the plan each
        collapse-capable operator picked under duplicate_collapse='auto'."""
        from datamine_v2_0_spark.operators import dedup as dd

        docs = spark.read.parquet(self.warm_path())
        n, blowup, cmax = dd.dup_stats(docs, "text")

        def plan(df) -> str:
            analyzed = df._jdf.queryExecution().analyzed().toString()
            return "collapsed" if "__rep" in analyzed else "direct"

        self.plan_auto = {
            "minhash_near_dup_pairs": plan(dd.minhash_near_dup_pairs(
                docs, "text", "doc_id", threshold=0.2, num_hashes=32, bands=8)),
            "jaccard_pairs_inverted": plan(dd.jaccard_pairs_inverted(
                docs, "text", "doc_id", threshold=0.2)),
        }
        return {"dup_stats": {"n": n, "blowup": blowup, "cmax": cmax},
                "plan_auto": self.plan_auto}

    def pass_split(self, warm: list[PassResult]) -> dict:
        return {}


    def layers(self, res: PassResult, tr: Tracer, log: EventLog) -> dict:
        m: dict[str, float] = {}
        by_name = {sp.name: sp for sp in res.spans}

        def phase(q, name):
            return [c for c in tr.children(by_name[q]) if c.name == name] if q in by_name else []

        builds = [b for q in by_name for b in phase(q, "build")]
        m["build_s.dedup"] = sum(b.dur for b in builds)
        m["build_jobs.dedup"] = log.counters(builds)["jobs"]
        m["plan_s"] = sum(p.dur for q in by_name for p in phase(q, "plan"))
        m["exec_s"] = sum(p.dur for q in by_name for p in phase(q, "exec"))
        for q, call in self.QUERIES.items():
            b, e = phase(q, "build"), phase(q, "exec")
            m[f"dedup.{call}.build_s"] = sum(s.dur for s in b)
            m[f"dedup.{call}.build_jobs"] = log.counters(b)["jobs"]
            m[f"dedup.{call}.exec_s"] = sum(s.dur for s in e)
        if "dedup_groups" in by_name:
            m["dedup.cc_jobs"] = log.counters(tr.subtree(by_name["dedup_groups"]))["jobs"]
        return m

    def spark_layers(self, spark) -> dict:
        """Wasted pair work of minhash_near_dup_pairs on the plan 'auto'
        picks: LSH candidate pairs vs pairs that pass the Jaccard verify.
        The collapsed plan runs both on one representative per distinct
        normalized text (the lowest id, which exact_dedup keeps)."""
        from datamine_v2_0_spark.operators import dedup as dd

        docs = spark.read.parquet(self.warm_path())
        base = docs
        if self.plan_auto["minhash_near_dup_pairs"] == "collapsed":
            base = docs.join(dd.exact_dedup(docs, "text", "doc_id").select("doc_id"), "doc_id")
        cand = dd.minhash_lsh_candidates(base, "text", "doc_id", 32, 8, 3).count()
        verified = dd.minhash_near_dup_pairs(
            base, "text", "doc_id", threshold=0.2, num_hashes=32, bands=8,
            duplicate_collapse="never").count()
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.pair_yield": verified / cand if cand else 0.0,
        }


class TelemetryEtl:
    """telemetry_etl: bronze -> silver -> window features -> partitioned
    Parquet, then read back -> 5 s downsample -> per-partition PELT."""

    name = "telemetry_etl"
    # warm passes of 4-7 s for --seconds, at least one: the budget of 22
    # runs per workload leaves room for no more after the cold pass
    min_warm = 1
    N_DEVICES = 16
    ROWS_PER_DEVICE = 1500
    PENALTY = 2e7
    MIN_SIZE = 10

    def __init__(self, seed: int, work: str):
        self.bronze = os.path.join(work, "bronze")
        self.out = os.path.join(work, "features")
        self.data = inputs.Telemetry(seed, self.N_DEVICES, self.ROWS_PER_DEVICE)
        self.input_rows = self.data.rows
        self.candidates: list[int] = []

    def prepare(self) -> dict:
        self.bronze_props = self.data.write_bronze(self.bronze)
        return {"tables": {"bronze": self.bronze_props},
                "partitions": self.N_DEVICES}

    def warm_path(self) -> str:
        return self.bronze

    def describe(self, spark) -> dict:
        return {}

    def run_pass(self, spark, tr: Tracer) -> PassResult:
        from pyspark.sql import functions as F

        from datamine_v2_0_spark.pipeline.cpd import cpd_pipeline
        from datamine_v2_0_spark.pipeline.features import build_features
        from datamine_v2_0_spark.pipeline.silver import silver_transform
        from datamine_v2_0_spark.sources.parquet_io import (
            read_parquet_pruned,
            write_parquet_partitioned,
        )

        res = PassResult(0.0)
        t_pass = time.perf_counter()
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("export", "pipeline") as sp:
                raw = spark.read.parquet(self.bronze)
                with tr.span("silver.build", "pipeline"):
                    silver = silver_transform(
                        raw, ingested_at=F.to_timestamp(F.lit("2025-09-04 00:00:00"))
                    )
                with tr.span("features.build", "pipeline"):
                    feats = build_features(silver).drop("current_position")
                if tr.enabled:
                    with tr.span("features.plan", "catalyst"):
                        feats._jdf.queryExecution().executedPlan()
                with tr.span("write", "sources"):
                    write_parquet_partitioned(feats, self.out, ["device_date"])
                if sp is not None:
                    res.spans.append(sp)
        except Exception:
            res.failures.append(f"export: {traceback.format_exc(limit=3)}")
        res.op_s["export"] = time.perf_counter() - t0

        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("cpd", "pipeline") as sp:
                with tr.span("read", "sources"):
                    back = read_parquet_pruned(
                        spark, self.out,
                        ["device_date", "timestamp", "load_weight", "raw_event_hash_id"],
                    )
                with tr.span("build", "pipeline"):
                    cand = cpd_pipeline(
                        back, "device_date", "timestamp", ["load_weight"],
                        "raw_event_hash_id", duration="5 seconds",
                        penalty=self.PENALTY, min_size=self.MIN_SIZE,
                    )
                if tr.enabled:
                    with tr.span("plan", "catalyst"):
                        cand._jdf.queryExecution().executedPlan()
                with tr.span("exec", "execution"):
                    self.candidates.append(cand.count())
                if sp is not None:
                    res.spans.append(sp)
        except Exception:
            res.failures.append(f"cpd: {traceback.format_exc(limit=3)}")
        res.op_s["cpd"] = time.perf_counter() - t0
        res.wall_s = time.perf_counter() - t_pass
        return res

    def check(self, spark) -> list[str]:
        from datamine_v2_0_spark.functions.signal import pelt_l2

        bad = []
        rows = spark.read.parquet(self.out).count()
        if rows != self.data.rows:
            bad.append(f"features rows {rows} != input rows {self.data.rows}")
        parts = [d for d in os.listdir(self.out) if d.startswith("device_date=")]
        if len(parts) != self.N_DEVICES:
            bad.append(f"{len(parts)} partitions written, expected {self.N_DEVICES}")
        expected = sum(
            len(pelt_l2(g, self.PENALTY, min_size=self.MIN_SIZE))
            for g in self.data.downsampled_groups()
        )
        if set(self.candidates) != {expected}:
            bad.append(f"candidate counts {self.candidates}, expected {expected} every pass")
        return bad

    def pass_split(self, warm: list[PassResult]) -> dict:
        return {
            "etl.export_s": _median([p.op_s["export"] for p in warm]),
            "etl.cpd_s": _median([p.op_s["cpd"] for p in warm]),
        }


    def layers(self, res: PassResult, tr: Tracer, log: EventLog) -> dict:
        spans = [s for top in res.spans for s in tr.subtree(top)]
        named = {s.name: s for s in spans}
        m: dict[str, float] = {}
        dur = lambda n: named[n].dur if n in named else 0.0  # noqa: E731
        m["plan_s"] = dur("features.plan") + dur("plan")
        m["exec_s"] = dur("write") + dur("exec")
        m["pipeline.silver.build_s"] = dur("silver.build")
        m["pipeline.features.build_s"] = dur("features.build")
        m["pipeline.features.plan_s"] = dur("features.plan")
        m["sources.write_s"] = dur("write")
        m["sources.read_s"] = dur("read")
        if "cpd" in named:
            m["py.cpd_stage_s"] = log.python_stage_s(tr.subtree(named["cpd"]))
        return m

    def spark_layers(self, spark) -> dict:
        m: dict[str, float] = {}
        files, out_bytes = 0, 0
        for root, _, names in os.walk(self.out):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    out_bytes += os.path.getsize(os.path.join(root, f))
        m["sources.files_written"] = files
        m["sources.bytes_per_input_byte"] = out_bytes / self.bronze_props["bytes"]
        m.update(_pelt_kernel(self.data.downsampled_groups(), self.PENALTY, self.MIN_SIZE))
        return m


def _pelt_kernel(groups: list, penalty: float, min_size: int) -> dict:
    from datamine_v2_0_spark.functions.signal import pelt_l2

    t0 = time.perf_counter()
    for g in groups:
        pelt_l2(g, penalty, min_size=min_size)
    return {
        "py.pelt_kernel_s": time.perf_counter() - t0,
        "py.groups": len(groups),
        "py.rows": sum(len(g) for g in groups),
    }


WORKLOADS = {w.name: w for w in (TelemetryEtl, DedupHot)}
