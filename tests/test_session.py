"""Session defaults — datamine_v2_0_spark/session.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

# Registry queries whose first pass in a fresh session compiles 153
# distinct generated classes at sf0.001 (local[4]): more than Spark's
# default codegen cache of 100 entries holds, so at that default the
# repeat pass recompiles the evicted ones. None of them joins or counts
# two distinct expressions: AQE picks a runtime broadcast side by which
# query stage finishes first, and Spark orders multi-distinct aggregates
# by a hash of per-call attribute ids, so such plans can generate
# different code from one call to the next (see SCALING.md).
REPEAT_SET = (
    "dedup_exact_keep",
    "pipeline_features",
    "agg_percentiles",
    "evt_transitions",
    "win_minmax_flags",
    "scd_type2",
    "win_rank_family",
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one count per compile)."""
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


ROOT = Path(__file__).resolve().parents[1]


def _jit(spark) -> dict[str, str]:
    """The running JVM's JIT compiler thread count and where it came
    from, as HotSpot reports them (VM_CREATION: the command line;
    ERGONOMIC: sized from the host's cores)."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    opt = bean.getVMOption("CICompilerCount")
    return {"value": opt.getValue(), "origin": opt.getOrigin().toString()}


def _jit_in_new_jvm(extra_conf: dict) -> dict[str, str]:
    """_jit of a JVM that get_spark(extra_conf=...) launches in a fresh
    Python process."""
    code = (
        "import json, sys\n"
        "from datamine_v2_0_spark.session import get_spark\n"
        "from tests.test_session import _jit\n"
        "conf = json.loads(sys.argv[1])\n"
        "spark = get_spark('jit', master='local[1]', extra_conf=conf)\n"
        "print(json.dumps(_jit(spark)))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", code, json.dumps(extra_conf)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


POLICY = {"value": "2", "origin": "VM_CREATION"}


def test_driver_jit_policy(spark):
    assert _jit(spark) == POLICY


def test_driver_jit_policy_survives_extra_java_options():
    """perfbench's shape: a caller's extraJavaOptions add to the policy."""
    conf = {"spark.driver.extraJavaOptions": "-Xms1g"}
    assert _jit_in_new_jvm(conf) == POLICY


def test_driver_jit_policy_override_restores_defaults():
    """Setting defaultJavaOptions through extra_conf replaces the policy:
    HotSpot sizes the compiler threads from the cores again."""
    conf = {"spark.driver.defaultJavaOptions": ""}
    assert _jit_in_new_jvm(conf)["origin"] == "ERGONOMIC"


def test_cpus_default_to_the_affinity_mask():
    """Without $SPARK_GRAFT_CPUS a session runs as many task threads as
    this process may use CPUs, never a fixed count."""
    code = (
        "import json\n"
        "from datamine_v2_0_spark.session import default_cpus, get_spark\n"
        "spark = get_spark('cpus')\n"
        "print(json.dumps([default_cpus(), spark.sparkContext.master,\n"
        "    spark.conf.get('spark.sql.shuffle.partitions')]))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS")}
    env.update(SPARK_DRIVER_MEM="1g", PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    n = len(os.sched_getaffinity(0))
    assert json.loads(out.stdout.strip().splitlines()[-1]) == [n, f"local[{n}]", str(n)]


def test_codegen_cache_confs(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_repeat_pass_compiles_nothing(spark, sf_dir):
    """A second pass of the same queries in one session reuses every
    compiled class: no Janino compile, so no JIT re-warm either."""
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata absent")
    from datamine_v2_0_spark.contract import QUERIES

    def one_pass():
        compiles = {}
        for name in REPEAT_SET:
            before = _compiles(spark)
            QUERIES[name][0](spark, sf_dir).collect()
            compiles[name] = _compiles(spark) - before
        return compiles

    one_pass()
    second = one_pass()
    assert sum(second.values()) == 0, second


def test_ivf_index_rebuild_compiles_nothing(spark, sf_dir):
    """ivf_index's corpus-size probe must not be a code-generated limit:
    Spark names that limit's counter from a JVM-global sequence, so
    every call would compile a new class."""
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata absent")
    from datamine_v2_0_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sim.ivf_index(emb, "embedding", "vec_id", dim=64, n_cells=8)
    before = _compiles(spark)
    sim.ivf_index(emb, "embedding", "vec_id", dim=64, n_cells=8)
    assert _compiles(spark) == before
