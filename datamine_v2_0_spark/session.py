"""SparkSession factory.

Reference parity: the reference hand-tunes Postgres sessions
(`STEP 2 - Transform Raw Telemetry/02_raw_telemetry_transform.py:67-88`:
work_mem, synchronous_commit, parallel workers). In Spark all of that
collapses into a handful of session confs: AQE (runtime re-planning ≈
ANALYZE-driven planning), shuffle partition sizing (≈
max_parallel_workers_per_gather), and Arrow for the Python boundary.

Everything here is plain public Apache Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver JIT policy: two JIT compiler threads, one C1 and one C2
# (HotSpot gives a 4-core host three, two of them C2). At the default, C2
# is the largest consumer of a warm pass's CPU (5.6 s of a warm dedup_hot
# pass's 11.1 s, local[4]), compiling the driver's planning and
# code-generation stack, which a pass runs too few times to repay the
# compile. With one C2 thread the C2 queue backs up during a pass, and
# HotSpot's own tiered policy then raises the tier-4 thresholds with the
# queue's length (Tier4LoadFeedback) and drops queued compiles whose
# method went cold (TieredCompileTaskTimeout): lukewarm planner code stays
# in C1, while code that stays hot, such as task loops, still reaches C2
# at the default thresholds. Raising those thresholds outright (x3, x10)
# cut about as much CPU but made bench.py's short queries slower, because
# code that waits for C2 runs as profiled tier-3 code. SCALING.md "Driver
# JIT policy" has the measurements (4-core host only).
# spark.driver.defaultJavaOptions goes in front of a caller's
# spark.driver.extraJavaOptions, so setting those keeps the policy. It
# replaces a site-wide spark.driver.defaultJavaOptions (spark-defaults.conf:
# GC logging, tmpdir, security properties); to keep those, pass them
# together with this one as that option in extra_conf, which replaces the
# policy. Like spark.driver.memory it takes effect only when get_spark
# launches the JVM (a session started elsewhere, e.g. a notebook's, keeps
# HotSpot's defaults), and it reaches the driver JVM only: local mode runs
# its tasks there, cluster executors keep the defaults.
DRIVER_JIT_OPTIONS = "-XX:CICompilerCount=2"


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask, which a container's cpuset narrows; not the host's
    count), so an unset variable never oversubscribes the host."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS, Windows)
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "datamine_v2_0_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are sized for ``local[$SPARK_GRAFT_CPUS]`` test runs
    (:func:`default_cpus` when the variable is unset) but
    every choice is the one you'd also make on a 1000-executor
    cluster: AQE on (coalesce + skew-join), Arrow on, UTC session
    timezone (the reference stores TIMESTAMPTZ and renders in UTC),
    shuffle partitions ~ cores locally (on a real cluster leave the
    default / let AQE coalesce).
    """
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cpus))
    )

    # NOTE: spark.driver.memory only takes effect at first JVM launch (the
    # builder conf is forwarded to spark-submit then); it is silently
    # ignored by getOrCreate() on an existing session. Local mode runs
    # executors inside the driver JVM, so the spark-submit default of 1g
    # OOMs wide parquet writes — default to a heap sized from physical
    # RAM (25%, capped at 32g), overridable via SPARK_DRIVER_MEM.
    driver_mem = os.environ.get("SPARK_DRIVER_MEM")
    if driver_mem is None:
        try:
            ram_gb = (
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ) // (1 << 30)
        except (ValueError, OSError):
            ram_gb = 8
        driver_mem = f"{max(2, min(32, ram_gb // 4))}g"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes post-shuffle partitions by shuffle INPUT
        # bytes, which under-parallelizes explosive operators (posting
        # self-joins, shingle fan-outs): a sub-MB shuffle that feeds a
        # row-multiplying join coalesces to ONE task and serializes the
        # blowup on one core (measured: the sf0.1 pair-graph stage ran
        # 3.6 s single-task; 64k floor spreads it, dedup_groups −34%).
        # At production shuffle sizes (partitions ≫ 1 MB) the floor is
        # inert — it only bites when total shuffle < cores × 1 MB, i.e.
        # exactly the small-input/explosive-join shape. Parameterized:
        # raise via env on clusters where tiny-stage task overhead
        # outweighs single-core blowup risk.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e)>0 AND
        # isnotnull(e)` above every explode; predicate pushdown then
        # substitutes the generator's FULL defining expression into the
        # filter and sinks it below exchanges — for computed inputs
        # (shingle/tokenize pipelines) the whole normalize+split subtree
        # re-runs per row in the scan stage, and any per-element lambda
        # reference inside it re-runs per ELEMENT (measured: the sf0.1
        # pair graph spent 6 s single-task in that inferred filter;
        # excluded, jaccard_pairs 5.4 s -> 1.6 s, bit-identical output).
        # Explode itself already emits nothing for empty/null arrays, so
        # the rule only ever helps when the generator input is a stored
        # column AND empties are common enough to prune below a join —
        # no such path exists in this engine. Env-overridable. README,
        # "Operator-authoring note: InferFiltersFromGenerate is
        # excluded", says when an operator should re-enable it.
        .config(
            "spark.sql.optimizer.excludedRules",
            os.environ.get(
                "SPARK_EXCLUDED_OPT_RULES",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate",
            ),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # parquet scans: pushdown + pruning are on by default; pin them
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime row-level filtering for large shuffle joins: build a
        # bloom filter from the small/filtered side and push it into the
        # big side's scan — at 100 TB this prunes most of a fact-table
        # shuffle for selective dim joins; free locally, decisive at scale.
        # (runtimeFilter.semiJoinReduction is NOT enabled: on this Spark
        # 4.1 build it deadlocks trivial actions — verified bisect)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Compile each generated class once per session. Spark caches
        # Janino-compiled classes keyed by their source text: 100
        # entries by default, split evenly over 4 LRU segments. One pass
        # of the whole registry generates ~1,720 distinct classes, so at
        # the default the second pass recompiled ~2,550 and the JIT
        # warmed them up again (sf0.001, local[4]); with the two confs
        # here it compiles a handful (SCALING.md). Sizing rule: at least
        # 2× the registry's footprint, since one segment (25 of the 100
        # entries) can overflow while the cache as a whole has room
        # (dedup_exact_keep + dedup_groups + dedup_canonical, 86
        # classes, recompiled 7-24 per repeat pass at the default).
        # Static conf: it only takes effect when this call creates the
        # JVM's first session.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Whole-stage class names otherwise embed the stage number AQE
        # assigns (GeneratedIteratorForCodegenStage9 vs ...Stage15), so
        # identical code misses the cache whenever that numbering shifts.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    if driver_mem and SparkSession.getActiveSession() is None:
        builder = builder.config("spark.driver.memory", driver_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
