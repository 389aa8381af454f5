"""Self-test of the benchmark at small scale.

    python3 perfbench/selftest.py

For every workload, at small inputs (``--small``) and a 1-second window:

1. an untraced run prints every end-to-end metric of ``BENCHMARK.json``
   with its unit, and reports no failure;
2. two traced runs with the same seed print every per-layer metric with
   its unit, and their exact work counters agree;
3. a run with ``--corrupt`` (one result damaged after it is produced)
   reports the damage as a failed operation.

It also checks that ``BENCHMARK.json`` and ``metrics.py`` agree, and that
the benchmark exits non-zero without a result in a directory that holds
only ``BENCHMARK.json`` and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

#: Counters that must repeat exactly between two runs of the same seed.
EXACT = ("plans.jobs", "plans.stages", "plans.tasks", "plans.build_jobs",
         "streaming.triggers", "pg_wire.insert_batches", "pg_wire.rows",
         "pg_wire.connections", "enrich.service_calls", "enrich.retries",
         "paginated.partitions", "paginated.rows")


def _run(workload: str, *flags: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1", *flags]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return r.returncode, r.stdout.strip().splitlines()


def _result(workload: str, *flags: str) -> dict:
    rc, lines = _run(workload, "--small", *flags)
    if rc != 0 or not lines:
        raise AssertionError(f"{workload} {flags}: exit {rc}, output {lines[-3:]}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{workload} {flags}: result keys {sorted(result)}")
    return result


def _check_metrics(workload: str, result: dict, declared) -> None:
    want = {m.name: m.unit for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{workload}: metrics/units {got} != declared {want}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]:
            raise AssertionError(f"{workload}: {k} is not a number: {v['value']!r}")


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, declared in (("end_to_end", metrics.END_TO_END),
                          ("per_layer", metrics.PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        mine = [(m.name, m.unit, m.better) for m in declared]
        if listed != mine:
            raise AssertionError(f"BENCHMARK.json {key} disagrees with metrics.py")
    names = [w["name"] for w in bench["workloads"]]
    if names != ["query-mix", "ingest"]:
        raise AssertionError(f"unexpected workloads {names}")


def check_bare_directory() -> None:
    """Only BENCHMARK.json and perfbench/: no engine, so no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run("query-mix", cwd=bare)
        if rc == 0 or any(line.startswith('{"correct"') for line in lines):
            raise AssertionError(f"bare directory: exit {rc}, output {lines[-2:]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def check_workload(workload: str) -> None:
    plain = _result(workload, "--trace", "0")
    _check_metrics(workload, plain, metrics.END_TO_END)
    if not plain["correct"] or plain["failed"]:
        raise AssertionError(f"{workload}: clean run failed: {plain}")

    traced = [_result(workload, "--trace", "1") for _ in range(2)]
    for t in traced:
        _check_metrics(workload, t, metrics.PER_LAYER)
        if not t["correct"]:
            raise AssertionError(f"{workload}: traced run failed")
    for name in EXACT:
        a, b = (t["metrics"][name]["value"] for t in traced)
        if a != b:
            raise AssertionError(f"{workload}: {name} differs between runs: {a} vs {b}")

    corrupt = _result(workload, "--trace", "0", "--corrupt")
    if corrupt["correct"] or corrupt["failed"] < 1:
        raise AssertionError(f"{workload}: a corrupted result went unnoticed: {corrupt}")
    print(f"{workload}: ok (attempted {plain['attempted']}, corrupt run failed "
          f"{corrupt['failed']}/{corrupt['attempted']})", flush=True)


def main() -> int:
    check_benchmark_json()
    check_bare_directory()
    print("BENCHMARK.json and bare-directory checks: ok", flush=True)
    for workload in ("query-mix", "ingest"):
        check_workload(workload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
