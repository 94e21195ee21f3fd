"""Seeded benchmark of the datamine_v2_0_spark engine (see BENCHMARK.json
and perfbench/layers.json).

    python3 perfbench/run.py --workload dedup_hot --seed 1 --seconds 5 --trace 0

Run from the repository root. One process is the only client, in a closed
loop: each operation starts when the previous one has finished, on a
session pinned to ``local[N]`` with N = the CPUs this process may use.

A run generates its inputs from --seed, starts a session (``setup``),
runs one cold pass and then warm passes for --seconds (at least the
workload's ``min_warm``), checks every output, and starts the session
six more times to take the median set-up time. With --trace 1 the warm
passes are a traced, an untraced and a traced one, and the run reports
per-layer numbers instead of the end-to-end ones; the spans go to
``.perfbench/traces/<workload>-seed<seed>.json``. A run whose JVM
deadlocks or whose operation raises starts over once (see ``main``).

The last line of stdout is the result JSON; the line before it is a
report with the session pinning, the input properties, where the run's
time went, the host's steal time, every pass's wall and CPU time and
any failures.
Exits 1 when an output check fails or an operation raises twice, 2 when
the engine is missing, 3 when the session did not honour the pinned
parallelism, 4 when the JVM deadlocked twice or the run passed its
deadline (see ``Watchdog``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
DEADLINE_S = 170  # a run, a restart included, must end within 180 s
RESTART_ENV = "PERFBENCH_RESTARTED_AFTER"  # set when a run starts over
T0_ENV = "PERFBENCH_T0"  # the first attempt's start, for the deadline

END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


class PinError(RuntimeError):
    pass


def _pin_environment(work: str, ncpu: int) -> None:
    """Everything the session reads from the environment is set here, so
    a caller's SPARK_* settings cannot change what is measured, and every
    file the JVM or its Python workers write lands under ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_") and k != "SPARK_HOME"]:
        del os.environ[k]
    for d in ("spark-local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })


def _warm(spark, path: str) -> None:
    """The first job and the first read of the workload's input, so the
    cold pass is not charged for JVM start-up work every job pays once."""
    spark.range(1000).count()
    spark.read.parquet(path).count()


def start_session(work: str, ncpu: int, warm_path: str, event_log: bool):
    """get_spark pinned to local[ncpu], then the warm-up. Returns the
    session and the two phase times."""
    from datamine_v2_0_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap: peak RSS then does not hang on the timing of the
        # JVM's heap-resize decisions on a loaded host
        # (-UsePerfData: no hsperfdata file outside the work directory)
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # SparkSession.builder options outlive a stopped session, so set
        # it both ways
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu, extra_conf=conf)
    t1 = time.perf_counter()
    _warm(spark, warm_path)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def session_info(spark, ncpu: int) -> dict:
    sc = spark.sparkContext
    info = {
        "cpus": ncpu,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
    }
    if (info["master"], info["default_parallelism"], info["shuffle_partitions"]) != (
        f"local[{ncpu}]", ncpu, ncpu
    ):
        raise PinError(f"session did not honour local[{ncpu}]: {info}")
    return info


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the steal column of /proc/stat): the host load that
    makes wall times drift between runs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _cpu_s(jvm: int | None) -> float:
    """CPU time used so far by this process, the driver JVM and every
    process under it (the Python workers), reaped children included.
    Unlike wall time it does not grow while other tenants of the host
    hold the CPUs."""
    t = os.times()
    total = t.user + t.system
    pids, seen = [] if jvm is None else [jvm], set()
    while pids:
        pid = pids.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since it was listed
            continue
        total += sum(int(v) for v in fields[11:15]) / os.sysconf("SC_CLK_TCK")
        pids.extend(_children(pid))
    return total


def _reset_own_hwm() -> None:
    """Start the Python driver's peak-RSS count after input generation."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out.update(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def _wait_gone(pids, timeout: float) -> None:
    pids, deadline = set(pids), time.time() + timeout
    while pids and time.time() < deadline:
        for pid in list(pids):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                pids.discard(pid)
        time.sleep(0.1)


class Watchdog:
    """Polls the driver JVM for a Java-level deadlock every 2 s, and the
    run for its deadline. Spark can deadlock when a lazily checkpointed
    RDD is first materialized by a broadcast-exchange thread while the
    DAG scheduler visits the same RDD (RDDCheckpointData's lock and the
    RDD's state lock taken in opposite orders); the blocked call then
    never returns.
    On either event the watchdog kills the JVM and its Python workers, so
    the blocked call fails and the run can end or start over."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.reason: str | None = None
        self.detail: list = []
        self._done = threading.Event()
        self._thread: threading.Thread | None = None

    def attach(self, spark) -> None:
        from pyspark import SparkContext

        self.pid = _jvm_pid(spark)
        self.proc = getattr(SparkContext._gateway, "proc", None)
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self._thread = threading.Thread(target=self._poll, args=(mx,), daemon=True)
        self._thread.start()

    def _poll(self, mx) -> None:
        while not self._done.wait(2.0):
            if time.time() - self.t0 > DEADLINE_S:
                self._kill("deadline", [])
                return
            try:
                ids = mx.findDeadlockedThreads()
                if ids:
                    names = [mx.getThreadInfo(int(i)).getThreadName() for i in ids]
            except Exception:  # the JVM is shutting down
                return
            if ids:
                self._kill("deadlock", names)
                return

    def _kill(self, reason: str, detail: list) -> None:
        self.reason, self.detail = reason, detail
        procs = [self.pid, *_children(self.pid)]
        for pid in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if self.proc is not None:
            self.proc.wait()
        _wait_gone(procs, 30)

    def stop(self) -> None:
        self._done.set()
        if self._thread is not None:
            self._thread.join()


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    the Python worker daemons it started have exited."""
    from pyspark import SparkContext

    jvm = _jvm_pid(spark)
    workers = _children(jvm)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the server may already have closed the socket
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # PythonGatewayServer exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    _wait_gone(workers, 30)


def run(args, work: str, ncpu: int, watch: Watchdog) -> tuple[dict, dict, int, list]:
    from spans import EventLog, Tracer, repeat_mismatches
    from workloads import WORKLOADS, call_counters

    t_mark = [time.perf_counter()]
    steal0 = _steal_s()
    phases: dict[str, float] = {}  # where the run's wall time went

    def mark(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - t_mark[0], 3)
        t_mark[0] = now

    wl = WORKLOADS[args.workload](args.seed, work)
    report: dict = {"workload": wl.name, "seed": args.seed, "inputs": wl.prepare()}
    if RESTART_ENV in os.environ:
        report["restarted_after"] = json.loads(os.environ[RESTART_ENV])
    _reset_own_hwm()
    mark("inputs")

    spark, start_s, warm_s = start_session(work, ncpu, wl.warm_path(), bool(args.trace))
    jvm = _jvm_pid(spark)
    setups = [start_s + warm_s]
    watch.attach(spark)

    def run_pass(tr):
        c0 = _cpu_s(jvm)
        res = wl.run_pass(spark, tr)
        res.cpu_s = _cpu_s(jvm) - c0
        return res

    try:
        report["session"] = session_info(spark, ncpu)
        off = Tracer()
        cold = run_pass(off)
        warm, traced = [], []
        if args.trace:
            # traced, untraced, traced: the JIT is still warming up, and
            # the untraced pass sits midway between the two traced ones
            tr = Tracer(spark, enabled=True)
            traced.append(run_pass(tr))
            warm.append(run_pass(off))
            traced.append(run_pass(tr))
        else:
            t_window = time.perf_counter()
            while len(warm) < wl.min_warm or time.perf_counter() - t_window < args.seconds:
                warm.append(run_pass(off))
        passes = [cold] + warm
        peak_mb = _hwm_mb(jvm) + _hwm_mb("self")
        mark("setup+passes")
        layer_extra = {}
        if args.trace:
            report["inputs"].update(wl.describe(spark))
            layer_extra = wl.spark_layers(spark)
            mark("describe")
        raised = [f for p in passes + traced for f in p.failures]
        failures = raised + wl.check(spark)
        attempted = sum(p.attempted for p in passes + traced)
        mark("check")
        if not args.trace:
            # six more set-ups in the same driver process, each a fresh
            # SparkContext in the running JVM: one start is under a second,
            # so a single burst of host steal moves it by a third
            for _ in range(6):
                spark.stop()
                spark, s, w = start_session(work, ncpu, wl.warm_path(), False)
                setups.append(s + w)
            mark("setups")
    finally:
        watch.stop()
        if watch.reason is None:
            stop_jvm(spark)
    mark("stop")
    report["phases_s"] = phases
    report["host_steal_s"] = round(_steal_s() - steal0, 2)

    pass_s = statistics.median(p.wall_s for p in warm)
    report["passes_s"] = [round(p.wall_s, 4) for p in passes]
    if traced:
        report["traced_passes_s"] = [round(p.wall_s, 4) for p in traced]
    report["setups_s"] = [round(s, 4) for s in setups]
    report["passes_cpu_s"] = [round(p.cpu_s, 3) for p in passes]
    report["failures"] = failures[:20]
    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setups),
            # CPU time, not wall time: on a shared host other tenants
            # stretch a pass's wall time by up to 2x between runs
            "pass_cpu_s": statistics.median(p.cpu_s for p in warm),
            "peak_rss_mb": peak_mb,
        }
        units = END_TO_END
    else:
        log = EventLog(os.path.join(work, "events"))
        last = traced[-1]
        traced_s = statistics.median(p.wall_s for p in traced)
        spans = [s for top in last.spans for s in tr.subtree(top)]
        counters = log.counters(spans)
        metrics = {
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "cold_pass_s": cold.wall_s,
            "rows_per_s": wl.input_rows / pass_s,
            **wl.pass_split(warm),
            **{f"exec.{k}": v for k, v in counters.items()},
            "exec.max_task_skew": log.max_task_skew(spans),
            **wl.layers(last, tr, log),
            **layer_extra,
            "trace.untraced_pass_s": pass_s,
            "trace.traced_pass_s": traced_s,
            "trace.overhead_s": traced_s - pass_s,
        }
        per_call = [call_counters(p, tr, log) for p in traced]
        mismatches = repeat_mismatches(*per_call)
        metrics["trace.repeat_mismatches"] = len(mismatches)
        units = per_layer_units()
        unknown = set(metrics) - set(units)
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
        for name in units:
            metrics.setdefault(name, 0)  # layer not called by this workload
        self_s: dict[str, float] = {}
        for s in spans:
            self_s[s.layer] = self_s.get(s.layer, 0.0) + tr.self_time(s)
        report["repeat_mismatches"] = mismatches
        report["self_s_by_layer"] = self_s
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_path = os.path.join(STATE, "traces", f"{wl.name}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({
                **report,
                "spans": [vars(s) for s in tr.spans],
                "per_call_counters": per_call,
                "metrics": metrics,
            }, fh, indent=1, default=str)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return report, result, 0 if not failures else 1, raised


def main() -> int:
    from workloads import WORKLOADS  # noqa: F401  (validates the import path)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    ncpu = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work, ncpu)
    sys.path.insert(0, ROOT)
    watch = Watchdog(float(os.environ.get(T0_ENV, time.time())))
    try:
        report, result, code, raised = run(args, work, ncpu, watch)
    except PinError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    except Exception:
        if watch.reason is None:
            raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # A deadlock or an operation that raised (Spark's lazy-checkpoint races
    # also surface as a NullPointerException in the DAG scheduler) is not a
    # wrong output: start over once in a fresh JVM, and say so in the
    # report line. A wrong output is never retried.
    cause = None
    if watch.reason == "deadlock":
        cause = {"reason": "deadlock", "threads": watch.detail}
    elif watch.reason is None and raised:
        cause = {"reason": "error", "error": raised[0][:2000]}
    if cause is not None and RESTART_ENV not in os.environ:
        cause["after_s"] = round(time.time() - watch.t0, 1)
        print(f"perfbench: {cause}; starting over", file=sys.stderr)
        os.environ.update({RESTART_ENV: json.dumps(cause), T0_ENV: str(watch.t0)})
        sys.stdout.flush()
        os.execv(sys.executable, [sys.executable, *sys.argv])
    if watch.reason is not None:
        print(f"perfbench: JVM killed ({watch.reason} {watch.detail}); no result",
              file=sys.stderr)
        return 4
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "datamine_v2_0_spark")):
        print("perfbench: run from a checkout of the engine (datamine_v2_0_spark/ "
              "not found next to perfbench/)", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
