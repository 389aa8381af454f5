"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: spans wrap calls to
the engine's public functions, work counters come from Spark's
``statusTracker`` and event log, memory from ``/proc``. Nothing is
patched into the engine.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    return float(statistics.median(values))


def calibrate_s(n: int = 300_000) -> float:
    """Fastest of five runs of a fixed pure-Python loop: a CPU speed reading.

    Taken before and after the timed window; a ratio well above 1 means
    the host slowed down (throttling, a noisy neighbour) mid-run."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return min(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from ``/proc/stat``.
    Steal is time the hypervisor ran something else while a virtual CPU
    of the virtual machine running the benchmark was ready to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


# -- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the engine.

    A span has a name ``<layer>.<what>``, wall-clock start/end, a parent
    and the run id. When tracing is off, ``span`` only tags Spark jobs
    (cheap) and records nothing. Spark jobs started inside a tagged span
    carry the span id as their job group, which is how the event-log
    reader and the status-tracker counters attribute work to spans."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, *, tag: bool = False, **attrs):
        self._next += 1
        sid = f"{self.run_id}-{self._next}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "tagged": tag, **attrs}
        if tag and self.sc is not None:
            self.sc.setJobGroup(sid, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if tag and self.sc is not None:
                if parent is not None and parent.get("tagged"):
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.spans.append(rec)

    def in_window(self, span: dict) -> bool:
        """Whether ``span`` is, or runs under, a timed ``bench.*`` op span."""
        by_id = {s["id"]: s for s in self.spans}
        while span is not None:
            if span["name"].startswith("bench.") and span.get("timed"):
                return True
            span = by_id.get(span["parent"])
        return False

    def self_times(self) -> dict[str, float]:
        """Per-layer self time inside the timed window: for each span under
        a timed ``bench.*`` op span, its duration minus the part of its
        interval covered by its children, summed by layer."""
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not self.in_window(s):
                continue
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            )
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- exact work counters ---------------------------------------------------


def group_work(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under one job group,
    read from ``SparkContext.statusTracker()``. Skipped stages (shuffle
    output reused) count as stages but run no tasks.

    The tracker is fed by a listener that handles Spark's events on its
    own thread, so an action can return before its last job start or task
    end is recorded; the listener bus is drained first, or the count of
    the operation just finished can come up one job short."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            out["stages"] += 1
            stage = st.getStageInfo(sid)
            if stage is not None:
                out["tasks"] += stage.numCompletedTasks
                out["failed_tasks"] += stage.numFailedTasks
    return out


def add_work(total: dict[str, int], part: dict[str, int]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


# -- memory ----------------------------------------------------------------


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    driver JVM and Python workers), sampled from ``/proc`` on a thread.

    The JVM's heap is neither pre-sized nor pre-touched, so its resident
    size follows the heap the engine makes the JVM grow. Reads ``statm``
    (constant cost per process): a page shared between processes counts
    once per process. ``smaps_rollup`` would split shared pages, but
    reading it walks the JVM's page tables under the memory-map lock and
    measurably slows the JVM.
    Processes whose pid is in ``exclude`` (and their descendants) are
    left out, e.g. a Postgres server the benchmark started."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self.peak_parts: dict[str, float] = {}  # MB by process name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
        keep = {os.getpid()}
        frontier = [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in keep and c not in self.exclude:
                    keep.add(c)
                    frontier.append(c)
        # A process the JVM is spawning is, until it execs, a clone that
        # shares the JVM's memory; counting it would count the JVM twice.
        keep = {p for p in keep if not (_exe(p).endswith("/java")
                                        and _exe(parent.get(p, 0)) == _exe(p))}
        total = 0
        parts: dict[str, int] = {}
        for p in keep:
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{p}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            total += rss
            parts[name] = parts.get(name, 0) + rss
        if total > self.peak_bytes:
            self.peak_parts = {k: v / 2**20 for k, v in parts.items()}
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


def jvm_pool_peaks_mb(spark) -> dict[str, float]:
    """Peak usage since start of the driver JVM's memory pools, summed by
    kind ("Heap memory", "Non-heap memory"), in MB: a reading of the heap the
    engine used, next to the resident size the JVM kept."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out: dict[str, float] = {}
    for pool in mf.getMemoryPoolMXBeans():
        kind = pool.getType().toString()
        out[kind] = out.get(kind, 0.0) + pool.getPeakUsage().getUsed() / 2**20
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


# -- event log -------------------------------------------------------------


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run/CPU/GC time, shuffle bytes and spill,
    summed over the ``SparkListenerTaskEnd`` records of its stages, plus
    the stage count from ``SparkListenerStageCompleted``.

    The log must be complete, i.e. the SparkContext stopped."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def row(group: str) -> dict[str, float]:
        return out.setdefault(group, {
            "stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        })

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group:
                    row(group)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if not group or not m:
                    continue
                r = row(group)
                r["tasks"] += 1
                r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                r["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                r["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return out
