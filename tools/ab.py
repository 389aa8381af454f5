#!/usr/bin/env python
"""Interleaved A/B of registry queries between two checkouts.

Usage: python tools/ab.py [--plans DIR] <armA> <armB> <query> [query ...]

An arm is a git ref (exported with ``git archive`` to a temp dir) or
``.`` (the working tree), served by one long-lived worker process that
imports the engine from it. Per query, each arm runs one untimed
warm-up whose results must be equal across arms (``tools.compare_frames``
semantics, by digest; a mismatch skips the timing and exits 1), then
timed reps in the order A B B A A B, so host drift hits both arms alike.
One JSON line per query gives, per arm, the digest, the job count, the
executed Exchange and join nodes, the rep times and their median.
``--plans DIR`` writes each arm's executed ``explain("formatted")`` to
``DIR/<query>_<A|B>.txt``. Scale and session size come from
``SPARK_GRAFT_SF_DIR``, ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.compare_frames import canon, frame_digest  # noqa: E402


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def plan_counts(plan) -> dict:
    """Exchange and join nodes of an executed (JVM) plan tree, through
    final adaptive plans, query stages, cached relations and subqueries.
    Each node counts once; a reused exchange does not run again."""
    seen: set[int] = set()
    todo = [plan]
    counts = {"exchanges": 0, "joins": 0}
    while todo:
        node = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        kind = node.getClass().getSimpleName()
        if kind in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            counts["exchanges"] += 1
        elif kind.endswith("JoinExec") or kind == "CartesianProductExec":
            counts["joins"] += 1
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        elif kind != "ReusedExchangeExec":
            todo.extend(_seq(node.children()))
            todo.extend(_seq(node.subqueries()))
    return counts


def serve(arm_dir: str) -> None:
    """Worker loop: one JSON request per stdin line, one JSON reply
    line each, against the engine imported from ``arm_dir``."""
    # Replies use a private copy of stdout; all other output goes to stderr.
    replies = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, arm_dir)
    from etl_project_spark.catalog import DEFAULT_SF_DIR
    from etl_project_spark.plans.registry import all_specs
    from etl_project_spark.session import get_spark, release_persists

    spark = get_spark("ab")
    sc = spark.sparkContext
    specs = all_specs()
    for line in sys.stdin:
        req = json.loads(line)
        q, group = req["query"], f"ab-{req['op']}-{req['query']}"
        sc.setJobGroup(group, q)
        t0 = time.perf_counter()
        df = specs[q].builder(spark, DEFAULT_SF_DIR)
        if req["op"] == "time":
            df.write.format("noop").mode("overwrite").save()
            reply = {"s": round(time.perf_counter() - t0, 3)}
        else:
            result = df.toPandas()
            qe = df._jdf.queryExecution()
            reply = plan_counts(qe.executedPlan())
            if req["plans"]:
                with open(req["plans"], "w") as f:
                    f.write(sc._jvm.PythonSQLUtils.explainString(qe, "formatted"))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            reply["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            reply["digest"] = frame_digest(canon(result))
        release_persists(blocking=True)
        replies.write(json.dumps(reply) + "\n")
        replies.flush()
    spark.stop()


class Arm:
    """One checkout and the worker process serving it."""

    def __init__(self, ref: str, tmp: str) -> None:
        self.ref, self.dir = ref, REPO
        if ref != ".":
            self.dir = tempfile.mkdtemp(prefix="arm-", dir=tmp)
            tar = subprocess.run(
                ["git", "-C", REPO, "archive", ref], check=True, capture_output=True
            ).stdout
            subprocess.run(["tar", "-x", "-C", self.dir], input=tar, check=True)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", self.dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=self.dir, env=dict(os.environ, PYTHONPATH=self.dir),
        )

    def call(self, **req) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"arm {self.ref}: worker exited")
        return json.loads(line)

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()


def compare(arms: dict, queries: list[str], plans_dir: str | None) -> int:
    """Run every query on both arms and print one JSON line per query;
    return 1 if any query's results differ between the arms, else 0."""
    rc = 0
    for q in queries:
        line: dict = {"query": q}
        for label, arm in arms.items():
            plans = plans_dir and os.path.abspath(f"{plans_dir}/{q}_{label}.txt")
            line[label] = {"ref": arm.ref, **arm.call(op="warm", query=q, plans=plans)}
        equal = line["A"]["digest"] == line["B"]["digest"]
        line["verdict"] = "equal" if equal else "mismatch"
        if equal:
            for label in "ABBAAB":
                reps = line[label].setdefault("reps_s", [])
                reps.append(arms[label].call(op="time", query=q)["s"])
            for label in arms:
                line[label]["median_s"] = statistics.median(line[label]["reps_s"])
        else:
            rc = 1
        print(json.dumps(line), flush=True)
    return rc


def main(argv: list[str]) -> int:
    if argv[:1] == ["--worker"]:
        serve(argv[1])
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("arms", nargs=2, metavar="ARM")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="ab-")
    arms: dict = {}
    try:
        for label, ref in zip("AB", args.arms):
            arms[label] = Arm(ref, tmp)
        return compare(arms, args.queries, args.plans)
    finally:
        for arm in arms.values():
            arm.close()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
