"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Builds a Spark session at
``local[nproc]``, sets the workload up, runs a cold first pass that also
checks results, then measures closed-loop operations for ``--seconds``
and prints one JSON result as the last line of standard output:

- ``--trace 0``: every end-to-end metric (``metrics.END_TO_END``);
- ``--trace 1``: every per-layer metric (``metrics.PER_LAYER``), from a
  run that records spans and enables Spark's event log.

Lines before the result carry the host record, the work counters, and,
for a traced run, the tracing overhead. All files go under
``.perfbench_work/`` in the checkout; the run deletes its own directory
on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("query-mix", "ingest")
#: Driver JVM heap: the workloads' inputs are a few MB, and the host's
#: memory is shared.
DRIVER_MEMORY = "1g"
#: How many times the repeatable engine step of set-up runs; setup_s takes
#: the median.
SETUP_REPEATS = 3

sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402


class Ctx:
    """State one workload run shares with the harness."""

    def __init__(self, args, work: str, cpus: int):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.tracer: harness.Tracer | None = None
        self.rss: harness.RssSampler | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.once_setup_s = 0.0
        self.repeat_setup_s: list[float] = []
        self.cleanups: list = []
        self._ticks = (0, 0)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(what)

    def mark(self, phase: str) -> None:
        """Record the process age at the end of a phase (detail line)."""
        self.detail.setdefault("phases_s", {})[phase] = harness.process_age_s()

    def setup_done(self) -> None:
        """Mark the end of the once-per-process set-up (session, registry,
        servers): measured from process start. The benchmark's own input
        generation runs after this and is not counted in setup_s."""
        self.once_setup_s = harness.process_age_s()
        self.mark("once_setup")

    def repeat_setup(self, fn) -> float:
        """Run the workload's repeatable engine step of set-up (table
        warm-up, history index build) ``SETUP_REPEATS`` times; setup_s
        counts the median duration, which this returns."""
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fn()
            self.repeat_setup_s.append(time.perf_counter() - t0)
        self.mark("repeat_setup")
        return harness.median(self.repeat_setup_s)

    def calib_before(self) -> None:
        self.mark("first_pass")
        self.detail["host"]["calib_before_s"] = harness.calibrate_s()
        self._ticks = harness.cpu_ticks()

    def calib_after(self) -> None:
        """CPU reading after the timed window, and the share of CPU time
        the hypervisor took from the virtual machine during the window (steal). A
        reading that slowed by half or more, or a steal share above 5%,
        means the host was throttled or shared, and the run is flagged."""
        host = self.detail["host"]
        steal, total = (b - a for a, b in zip(self._ticks, harness.cpu_ticks()))
        host["window_steal_frac"] = steal / max(1, total)
        host["calib_after_s"] = harness.calibrate_s()
        host["calib_ratio"] = host["calib_after_s"] / host["calib_before_s"]
        host["throttled"] = host["calib_ratio"] > 1.5 or host["window_steal_frac"] > 0.05
        self.mark("window")

    def op_work(self, span: dict) -> dict[str, int]:
        """Exact work counters of a tagged span (traced runs only)."""
        return harness.group_work(self.spark.sparkContext, span["id"])


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, Python and the JVM write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the
        # work directory.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # zstandard is not installed; Spark 4 compresses and rolls by default.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _engine_available() -> str | None:
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import etl_project_spark.session  # noqa: F401
    except ImportError as e:
        return str(e)
    if not os.path.exists(os.path.join(ROOT, "tests", "oracle.py")):
        return "tests/oracle.py not found"
    return None


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="self-test scale: small inputs, not for measurement")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: damage one result after it is produced, "
                        "so the correctness check must fail")
    return p.parse_args(argv)


def _workload_module(name: str):
    if name == "query-mix":
        import query_mix as mod
    else:
        import ingest as mod
    return mod


def _run(ctx: Ctx) -> None:
    from etl_project_spark.session import get_spark

    mod = _workload_module(ctx.args.workload)
    tracer = harness.Tracer(None, uuid.uuid4().hex[:8], ctx.trace)
    ctx.tracer = tracer
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench", cpus=ctx.cpus, driver_memory=DRIVER_MEMORY)
        ctx.layer["session.get_spark_s"] = time.perf_counter() - t0
    tracer.sc = ctx.spark.sparkContext
    ctx.detail["host"] = {"nproc": ctx.cpus, "master": ctx.spark.sparkContext.master}
    mod.run(ctx)


def _stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit
    (it exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _finish_trace(ctx: Ctx) -> None:
    """After the session stops: fold the event log, compute self times,
    and compare with the latest untraced run of the same workload+seed."""
    tracer = ctx.tracer
    folded = harness.fold_event_log(os.path.join(ctx.work, "eventlog"))
    plans = {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    per_layer_stages: dict[str, dict] = {}
    spans = {s["id"]: s for s in tracer.spans}
    # A streaming query runs its jobs under its own run id.
    spans.update({s["stream_run"]: s for s in tracer.spans if "stream_run" in s})
    for group, row in folded.items():
        span = spans.get(group, {"name": "other"})
        harness.add_work(per_layer_stages.setdefault(span["name"], {}), row)
        if span["name"].startswith("plans.") and tracer.in_window(span):
            for k in plans:
                plans[k] += row[k]
    units = max(1, ctx.detail.get("timed_units", 1))
    for k, v in plans.items():
        ctx.layer[f"plans.{k}"] = v / units
    ctx.detail["stage_rows_by_span"] = per_layer_stages
    self_times = tracer.self_times()
    for layer in metrics.LAYERS:
        ctx.layer[f"{layer}.self_s"] = self_times.get(layer, 0.0) / units
    # Layers whose work runs lazily inside another layer's call are split
    # by the workload from layer-isolation runs.
    ctx.layer.update(ctx.detail.pop("self_s", {}))
    tracer.dump(os.path.join(WORK_ROOT, f"spans-{ctx.args.workload}-{ctx.seed}.jsonl"))
    base = _result_path(ctx, trace=False)
    if os.path.exists(base):
        with open(base) as f:
            untraced = json.load(f)["metrics"]
        traced = _end_to_end(ctx)
        ctx.detail["tracing_overhead"] = {
            k: traced[k]["value"] - untraced[k]["value"] for k in traced if k in untraced
        }
    else:
        ctx.detail["tracing_overhead"] = (
            f"no untraced run of {ctx.args.workload} seed {ctx.seed} to compare with")


def _end_to_end(ctx: Ctx) -> dict:
    vals = dict(ctx.e2e)
    vals["setup_s"] = ctx.once_setup_s + harness.median(ctx.repeat_setup_s or [0.0])
    vals["peak_rss_mb"] = ctx.rss.peak_bytes / 2**20
    return {m.name: {"value": _finite(vals.get(m.name, 0.0)), "unit": m.unit}
            for m in metrics.END_TO_END}


def _finite(v: float) -> float:
    """A value that JSON can carry: a metric a failed run could not
    measure reads 0 (the run is marked incorrect anyway)."""
    return v if v == v and abs(v) != float("inf") else 0.0


def _result_path(ctx: Ctx, trace: bool) -> str:
    return os.path.join(WORK_ROOT, f"result-{ctx.args.workload}-{ctx.seed}-trace{int(trace)}.json")


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process (the Python
    worker daemon, once the JVM that started it exits), so that the run
    can wait for every process it started."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every child process to exit; terminate stragglers."""
    deadline = time.monotonic() + timeout_s
    signalled = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline and not signalled:
            for child in _children():
                os.kill(child, signal.SIGKILL)
            signalled = True
        time.sleep(0.05)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(d))
            except OSError:
                continue
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    missing = _engine_available()
    if missing is not None:
        print(f"perfbench: the engine is not importable here: {missing}", file=sys.stderr)
        return 2
    _become_subreaper()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work, bool(args.trace))
    ctx = Ctx(args, work, cpus)
    try:
        with harness.RssSampler() as rss:
            ctx.rss = rss
            try:
                _run(ctx)
                ctx.mark("checks")
                rss.sample()
                ctx.detail["jvm_pool_peak_mb"] = harness.jvm_pool_peaks_mb(ctx.spark)
            finally:
                for fn in reversed(ctx.cleanups):
                    fn()
                if ctx.spark is not None:
                    _stop_spark(ctx.spark)
                _reap_children()
        ctx.mark("stopped")
        if ctx.trace:
            _finish_trace(ctx)
        e2e = _end_to_end(ctx)
        ctx.detail["failed_ops_frac"] = ctx.failed / max(1, ctx.attempted)
        ctx.detail["peak_rss_by_process_mb"] = ctx.rss.peak_parts
        ctx.detail["failures"] = ctx.failures[:20]
        if ctx.trace:
            out_metrics = {m.name: {"value": ctx.layer.get(m.name, 0), "unit": m.unit}
                           for m in metrics.PER_LAYER}
        else:
            out_metrics = e2e
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": out_metrics}
        os.makedirs(WORK_ROOT, exist_ok=True)
        with open(_result_path(ctx, ctx.trace), "w") as f:
            json.dump({"metrics": e2e, "layer": ctx.layer}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": ctx.detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
