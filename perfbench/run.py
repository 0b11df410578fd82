"""Benchmark driver for dbldatagen_spark.

    python3 perfbench/run.py --workload generate|curate|stream --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One process, one local Spark session
(``local[nproc]``, shuffle partitions = nproc, driver memory from the
host). It sets up the workload five times (fresh session + inputs) and
reports the median, warms the workload until two passes agree, then runs
whole passes until ``--seconds`` have gone by. ``--trace 1`` adds traced
passes that split each call into layers. Output checks run after the
timed passes. The last stdout line is one JSON object.

``--smoke`` runs every workload at tiny sizes, untraced and traced, in one
session and fails unless every metric is printed and every check passes.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

RUN_BUDGET_S = 130.0  # no optional pass starts after this
OP_CUTOFF_S = 155.0  # every op is cancelled by then, leaving time for teardown
WATCHDOG_S = 172.0  # the whole process, teardown included
OP_DEADLINE_S = 90.0
SETUPS = 5
MIN_PASSES = 3
STEADY_TOL = 0.05  # two warm passes within 5% of each other = steady

END_TO_END = ["setup_s", "rows_per_s", "cpu_s", "peak_rss_mb",
              "batch_p50_ms", "batch_p90_ms"]
UNITS = {"setup_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB",
         "batch_p50_ms": "ms", "batch_p90_ms": "ms"}


def per_layer_names(workload: str):
    """The per-layer metrics a traced run prints: those in BENCHMARK.json,
    in its order, plus the operator layers of the curate workload when it
    is the one run (it is not in BENCHMARK.json; see README.md)."""
    from workloads import _STREAM_OPS, _curate_ops

    names = ["plans.resolve_s", "generator.construct_s", "datagen.construct_s",
             "exec.noop_s.customers", "exec.noop_s.users", "exec.jobs",
             "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
             "exec.gc_s", "sources.sinks.write_s", "sources.sinks.bytes_mb",
             "sources.sinks.files"]
    for key, _ in _curate_ops() if workload == "curate" else ():
        names += [f"{key}.{m}" for m in (
            "construct_s", "construct_jobs", "exec_s", "transfer_s", "jobs",
            "shuffle_mb", "spill_mb", "executor_cpu_s")]
    for key in _STREAM_OPS:
        names += [f"{key}.{m}" for m in (
            "add_batch_ms", "wal_commit_ms", "commit_ms", "query_planning_ms",
            "get_batch_ms", "latest_offset_ms", "state_rows", "state_mem_mb",
            "rows_per_s")]
    names += ["proc.jvm_cpu_s", "proc.python_worker_cpu_s",
              "proc.driver_python_cpu_s", "ops.error_rate", "trace.overhead_s",
              "trace.unaccounted_max_pct"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s") or ".noop_s." in name:
        return "s"
    if name.endswith("error_rate"):
        return "ratio"
    return "count"


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A sixteenth of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    mb = min(max(total_kb // 16 // 1024, 1024), 4096)
    return f"{mb}m"


def new_session():
    """The benchmark's own session. ``session.tuned_builder`` is not used:
    its ``runtimeFilter.semiJoinReduction.enabled=true`` makes
    ``spark.range(10)`` never return on PySpark 4.1.2 (see README.md)."""
    from pyspark.sql import SparkSession

    n = host_cores()
    mem = driver_memory()
    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", mem)
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on when the collector chose to grow the heap
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
                " -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def _jvm_tree():
    """The gateway JVM's Popen and the pids of it and every descendant."""
    from pyspark import SparkContext

    import probes

    proc = SparkContext._gateway.proc
    return proc, [proc.pid] + probes.descendants(proc.pid)


def _kill(pids) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def teardown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until it and every process
    under it are gone."""
    import subprocess
    import threading

    from pyspark import SparkContext

    proc, tree = _jvm_tree()
    stopper = threading.Thread(target=spark.stop, daemon=True)
    stopper.start()
    stopper.join(15)
    try:
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        pass
    _kill(tree)
    proc.wait()
    deadline = time.time() + 5
    while time.time() < deadline and any(_alive(p) for p in tree):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _watchdog() -> None:
    """Last resort for a session stuck outside any op deadline: end the
    JVM tree and exit non-zero without a result."""
    print(f"perfbench: no result within {WATCHDOG_S:.0f}s, aborting",
          file=sys.stderr, flush=True)
    try:
        _kill(_jvm_tree()[1])
    finally:
        os._exit(3)


# --------------------------------------------------------------------------
# runner
# --------------------------------------------------------------------------


class Runner:
    """Runs ops under deadlines and job groups, counting attempts and
    failures; holds the run's clock."""

    def __init__(self, spark, started: float):
        self.spark = spark
        self.started = started
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.wedged = False
        self.last_wall_s = 0.0
        self._group = None
        self._n = 0

    def remaining(self) -> float:
        return RUN_BUDGET_S - (time.perf_counter() - self.started)

    def deadline_s(self) -> float:
        left = OP_CUTOFF_S - (time.perf_counter() - self.started)
        return max(min(OP_DEADLINE_S, left), 1.0)

    def op(self, name: str, fn):
        import probes

        if self.wedged:
            raise probes.OpFailed(f"{name}: skipped, session wedged")
        self._n += 1
        self._group = f"perfbench-{self._n}-{name}"
        self.attempted += 1
        t = time.perf_counter()
        try:
            # 5 s of grace so an op that enforces deadline_s() itself
            # (a stream query) reports its own timeout first
            return probes.run_with_deadline(self.spark, self._group, fn,
                                            self.deadline_s() + 5.0)
        except probes.OpFailed as e:
            self.failed += 1
            self.errors.append(str(e))
            self.wedged = self.wedged or e.wedged
            raise
        finally:
            self.last_wall_s = time.perf_counter() - t

    def stage_metrics(self):
        import probes

        return probes.group_metrics(self.spark, self._group)

    def fail(self, msg: str) -> None:
        """Count a failed output check against its op."""
        self.failed += 1
        self.errors.append(msg)


def measured_pass(wl, spark, runner, tree, traced):
    """One pass with its process-tree CPU and peak RSS."""
    import probes

    tree.reset_peak()
    c0 = tree.snapshot()
    p = wl.run_pass(spark, runner, traced)
    cpu = probes.cpu_delta(c0, tree.snapshot())
    p.cpu = cpu
    p.peak_rss_mb = tree.peak_rss_mb()
    return p


def run_workload(name, seed, seconds, trace, size="full", spark=None):
    """Set up, warm, measure and check one workload. Returns the result
    dict and the live session."""
    import probes
    from workloads import DEFAULT_SEED, PINS, SIZES, WORKLOADS

    started = time.perf_counter()
    work = os.path.join(WORK, name)
    os.makedirs(work, exist_ok=True)
    wl = WORKLOADS[name](SIZES[name][size], seed, work)
    if spark is None:
        spark = new_session()

    setups = []
    for _ in range(SETUPS):
        t = time.perf_counter()
        spark.stop()
        spark = new_session()
        wl.setup(spark)
        setups.append(time.perf_counter() - t)

    runner = Runner(spark, started)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    tree = probes.ProcTree(jvm_pid).start()
    passes, traced, warm = [], [], []
    try:
        # warm up until two passes agree or the workload's warm-up budget is
        # spent; the stream workload's first warm pass goes to the memory
        # sink so its output can be checked
        t_warm = time.perf_counter()
        if hasattr(wl, "check_pass"):
            wl.checked = wl.check_pass(spark, runner)
            warm.append(wl.checked)
        while True:
            steady = (len(warm) >= wl.warm_min and abs(warm[-1].wall_s - warm[-2].wall_s)
                      <= STEADY_TOL * warm[-2].wall_s)
            if len(warm) >= wl.warm_min and (steady or time.perf_counter() - t_warm
                                             + warm[-1].wall_s > wl.warm_max_s):
                break
            warm.append(wl.run_pass(spark, runner, False))
        # untraced passes for --seconds, whole passes, at least three so
        # that one disturbed pass cannot move the median
        t_meas = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_meas < seconds:
            if passes and runner.remaining() < passes[-1].wall_s:
                break
            passes.append(measured_pass(wl, spark, runner, tree, False))
        if trace:
            t_tr = time.perf_counter()
            while not traced or time.perf_counter() - t_tr < seconds / 2:
                if traced and runner.remaining() < traced[-1].wall_s:
                    break
                traced.append(measured_pass(wl, spark, runner, tree, True))
    except probes.OpFailed:
        pass  # counted by the runner; a wedged session stops the passes

    checks_ok = False
    if passes and not runner.wedged:
        pins = PINS[name] if seed == DEFAULT_SEED and size == "full" else {}
        try:
            bad = wl.check(spark, passes + traced, pins)
            for op, msg in bad.items():
                runner.fail(f"check {op}: {msg}")
            checks_ok = not bad
        except Exception as e:  # noqa: BLE001 - a crashed check is a failed op
            runner.fail(f"check crashed: {type(e).__name__}: {str(e)[:300]}")
    tree.stop()

    result = {
        "correct": bool(checks_ok and runner.failed == 0),
        "attempted": max(runner.attempted, 1),
        "failed": runner.failed,
        "metrics": {},
    }
    if passes:
        med = statistics.median
        lat = [x for p in passes for x in p.latencies_ms]
        e2e = {
            "setup_s": med(setups),
            "rows_per_s": med(p.rows / p.wall_s for p in passes),
            "cpu_s": med(sum(p.cpu.values()) for p in passes),
            "peak_rss_mb": med(p.peak_rss_mb for p in passes),
            "batch_p50_ms": probes.quantile(lat, 0.5),
            "batch_p90_ms": probes.quantile(lat, 0.9),
        }
        if not trace:
            result["metrics"] = {k: {"value": e2e[k], "unit": UNITS[k]}
                                 for k in END_TO_END}
        elif traced:
            result["metrics"] = layer_metrics(name, traced, passes, runner)
    info = {"workload": name, "seed": seed, "passes": len(passes),
            "warm_passes": len(warm), "traced_passes": len(traced),
            "pass_s": [round(p.wall_s, 3) for p in passes],
            "setups_s": [round(s, 3) for s in setups],
            "errors": runner.errors[:5],
            "digests": getattr(wl, "digests", {})}
    print(json.dumps(info), file=sys.stderr)
    return result, spark


def layer_metrics(workload, traced, passes, runner):
    """Medians over the traced passes, plus process CPU, the tracing
    overhead and how well the layers account for the untraced op time."""
    med = statistics.median
    names = per_layer_names(workload)
    out = {n: 0.0 for n in names}  # layers this workload never enters
    for n in traced[0].layers:
        if n in out:
            out[n] = med(p.layers.get(n, 0.0) for p in traced)
    out["proc.jvm_cpu_s"] = med(p.cpu["jvm"] for p in traced)
    out["proc.python_worker_cpu_s"] = med(p.cpu["worker"] for p in traced)
    out["proc.driver_python_cpu_s"] = med(p.cpu["driver"] for p in traced)
    out["ops.error_rate"] = runner.failed / max(runner.attempted, 1)
    out["trace.overhead_s"] = (med(p.wall_s for p in traced)
                               - med(p.wall_s for p in passes))
    worst = 0.0
    for op in traced[0].op_wall_s:
        plain = med(p.op_wall_s[op] for p in passes if op in p.op_wall_s)
        layered = med(p.op_wall_s[op] for p in traced)
        worst = max(worst, abs(layered - plain) / plain * 100 if plain else 0.0)
    out["trace.unaccounted_max_pct"] = worst
    return {n: {"value": out[n], "unit": layer_unit(n)} for n in names}


# --------------------------------------------------------------------------
# entry points
# --------------------------------------------------------------------------


def prepare() -> None:
    """Point Python, its workers, the JVM and temp files at this checkout.
    Exits non-zero if the library is not here."""
    if not os.path.isfile(os.path.join(ROOT, "dbldatagen_spark", "__init__.py")):
        print(f"perfbench: no dbldatagen_spark package under {ROOT}",
              file=sys.stderr)
        sys.exit(2)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # pandas concat notices from the Arrow serializer, once per group call
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]
    import dbldatagen_spark

    if not os.path.abspath(dbldatagen_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: dbldatagen_spark was not imported from this checkout",
              file=sys.stderr)
        sys.exit(2)


def smoke() -> int:
    """Every workload at tiny sizes, untraced then traced."""
    spark, problems = None, []
    try:
        for wl in ("generate", "curate", "stream"):
            for trace in (0, 1):
                res, spark = run_workload(wl, 7, 0.1, trace, size="smoke", spark=spark)
                want = per_layer_names(wl) if trace else END_TO_END
                missing = [m for m in want if m not in res["metrics"]]
                if missing or not res["correct"] or res["failed"]:
                    problems.append(f"{wl} trace={trace}: correct={res['correct']} "
                                    f"failed={res['failed']} missing={missing}")
                print(f"smoke {wl} trace={trace}: {len(res['metrics'])} metrics, "
                      f"correct={res['correct']}", file=sys.stderr)
    finally:
        if spark is not None:
            teardown(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    for p in problems:
        print("smoke FAILED: " + p, file=sys.stderr)
    print(json.dumps({"smoke": "failed" if problems else "passed"}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["generate", "curate", "stream"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    prepare()
    if args.smoke:
        return smoke()
    import threading

    watchdog = threading.Timer(WATCHDOG_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()
    spark = None
    try:
        result, spark = run_workload(args.workload, args.seed, args.seconds,
                                     args.trace)
    finally:
        if spark is not None:
            teardown(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    watchdog.cancel()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
